package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** A measured value with the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int)

/** What a workload sees of the run. */
final class Ctx(val spark: SparkSession, val trace: Trace, val probes: Probes.Listeners,
                val runDir: Path, val seed: Long, val seconds: Double,
                val fixtureDir: String, val goldens: Path)

/** A workload's result. `attempted`/`failed` count generated rows for
  * the streams and entry executions for the catalog. */
final case class Result(attempted: Long, failed: Long, valid: Boolean, note: String,
                        e2e: Map[String, Metric], layers: Map[String, Double])

/** One workload: `prepare` is the workload's share of set-up (it runs
  * in every set-up repetition, on a fresh session and fresh dirs);
  * `run` measures. */
trait Workload {
  def prepare(spark: SparkSession, dir: Path): Unit
  def run(ctx: Ctx): Result
}

/** Benchmark entry point; run through `perfbench/run.py`, which builds
  * it and starts it in a fresh working directory.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --fixture <dir> --goldens <file> [--trace-out <file>]`. Prints a
  * human-readable report and, as its last line, the JSON result.
  */
object Main {
  val SetupReps = 3
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(runDir: Path, fixtureDir: String): SparkSession = {
    val s = GraftSession.tuneFor(
      SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
        .config("spark.local.dir", runDir.resolve("spark-local").toString)
        .config("spark.sql.streaming.numRecentProgressUpdates", "10"),
      fixtureDir, Cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val traced = a.getOrElse("trace", "0") == "1"
    val runDir = Paths.get("").toAbsolutePath
    val w: Workload = name match {
      case "kline_jdbc" => new KlineJdbc(a("seed").toLong)
      case "doc_dedup" => new DocDedup(a("seed").toLong)
      case "catalog_llm" => new Catalog
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up is repeated on a fresh session each time; the last one is
    // kept for the run. The first repetition is timed from `main`.
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      val s0 = if (i == 1) t0 else System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(runDir, a("fixture"))
      val dir = Files.createDirectories(runDir.resolve(s"setup-$i"))
      w.prepare(spark, dir)
      (System.nanoTime() - s0) / 1e9
    }

    val trace = new Trace(traced)
    val ctx = new Ctx(spark, trace, new Probes.Listeners(spark, traced), runDir,
      a("seed").toLong, a("seconds").toDouble, a("fixture"), Paths.get(a("goldens")))
    val r = w.run(ctx)
    val heapMb = liveHeapMb()
    spark.stop()

    val e2e = r.e2e + ("setup_s" -> Metric(Stats.median(setups), "s", setups.size))
    val layers = r.layers + ("jvm.heap_mb" -> heapMb)
    val errorRate = r.failed.toDouble / math.max(1L, r.attempted)
    println(s"workload $name seed ${a("seed")} trace ${if (traced) 1 else 0}")
    println(f"  set-up runs (s): ${setups.map(x => f"$x%.3f").mkString(" ")}")
    e2e.toSeq.sortBy(_._1).foreach { case (k, m) =>
      println(f"  $k%-24s ${m.value}%14.4f ${m.unit}%-7s n=${m.samples}")
    }
    println(f"  error_rate               $errorRate%14.6f ratio   n=${r.attempted} (failed ${r.failed})")
    println(f"  live heap after full GC  $heapMb%14.1f MB")
    if (r.note.nonEmpty) println(s"  note: ${r.note}")
    if (traced) {
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-36s $v%16.3f") }
      val spans = trace.all
      val err = Trace.reconcileErrorNs(spans).values.foldLeft(0L)(math.max)
      println(s"  trace: ${spans.size} spans, max |request span - sum of self times| = ${err / 1e6} ms")
      selfTimeByLayer(spans).toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(f"  self time $k%-24s ${v / 1e6}%12.1f ms")
      }
      a.get("trace-out").foreach(p => trace.writeJsonl(Paths.get(p)))
    }

    val metrics =
      if (traced) Layers.complete(layers).map { case (k, v) => k -> (v, Layers.unit(k)) }
      else e2e.map { case (k, m) => k -> (m.value, m.unit) }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    println("e2e " + e2e.toSeq.sortBy(_._1)
      .map { case (k, m) => "\"" + k + "\":" + num(m.value) }.mkString("{", ",", "}"))
    val correct = r.failed == 0 && r.valid
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},"metrics":{$body}}""")
  }

  /** Heap still in use after a full collection: the heap pools' usage
    * as of the end of that collection. */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString

  /** Self time summed per layer (the span name's first segment). */
  def selfTimeByLayer(spans: Seq[Trace.Span]): Map[String, Long] = {
    val self = Trace.selfTimes(spans)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum
    }
  }
}

/** The per-layer metric names, in the order BENCHMARK.json lists them,
  * with their units. Every traced run reports all of them; a layer a
  * workload does not touch reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "source.gen_lag_p99_ms" -> "ms", "source.backlog_rows_max" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.jobs_per_batch" -> "count",
    "ingest.stage_ms" -> "ms",
    "state.rows_total" -> "count", "state.memory_bytes" -> "bytes",
    "state.update_ms" -> "ms", "state.commit_ms" -> "ms",
    "state.rows_dropped_by_watermark" -> "count",
    "sinks.upsert_ms" -> "ms", "sinks.rows_upserted" -> "count",
    "etl.admit_ms" -> "ms", "etl.admit_ratio" -> "ratio", "etl.corpus_files" -> "count",
    "etl.bootstrap_s" -> "s",
    "catalog.prep_cold_s" -> "s", "catalog.prep_warm_s" -> "s",
    "catalog.exec_cold_s" -> "s", "catalog.exec_warm_s" -> "s",
    "planning.analysis_ms" -> "ms", "planning.optimization_ms" -> "ms",
    "planning.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_fetch_wait_ms" -> "ms",
    "spark.spill_bytes" -> "bytes", "spark.driver_gap_ms" -> "ms",
    "ops.similarity_s" -> "s", "ops.dedup_s" -> "s", "ops.text_s" -> "s",
    "ops.multimodal_s" -> "s",
    "jvm.heap_mb" -> "MB")
  private val units = all.toMap
  def unit(name: String): String = units(name)
  /** Fills in the layers a workload did not report with 0. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    all.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
}
