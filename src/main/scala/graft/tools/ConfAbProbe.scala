package graft.tools

import org.apache.spark.sql.{DataFrame, RuntimeConfig, SparkSession}
import graft.{GraftSession, SparkEntry}

/** Interleaved A/B of RUNTIME session confs over named catalog entries
  * — the one A/B harness: any engine fork that a session conf selects
  * (e.g. `spark.graft.sim.fusedAdaptiveMaxBytes=0` forces the two-pass
  * adaptive probe) or any Spark setting (preferSortMergeJoin=false,
  * AQE shuffled-hash threshold, …). Counterbalanced A/B inside one JVM:
  * modes alternate per entry per round with the order flipped on every
  * round, so box drift and back-to-back-run bias cancel (a fixed A-then-B
  * order measured entries with no difference between modes at ratio
  * 2.07 — back-to-back same-query runs favor the second).
  *
  * Every entry is first warmed once in each mode (JIT, codegen, fixture
  * index builds and margin calibration land here), then run once per
  * mode under a job counter — the deterministic, noise-immune half of
  * the answer — before the timed rounds.
  *
  * Usage: runMain graft.tools.ConfAbProbe <sfDir> <rounds> \
  *          <k1=v1,k2=v2,…> <name,name,…>
  * Mode A = session defaults, mode B = the conf list applied (restored
  * after each B run).
  */
object ConfAbProbe {
  type Entry = (SparkSession, String) => DataFrame

  /** `k1=v1,k2=v2` → pairs. Split on the first '=' only: conf VALUES
    * may themselves contain '=' (URLs, key=val lists). */
  def parseConfs(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.map { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2 && parts(0).nonEmpty,
        s"ConfAbProbe: malformed conf '$kv', expected key=value")
      (parts(0), parts(1))
    }

  /** Look up catalog/bench entries by name; a name that matches none
    * fails the whole run, listing every unknown name. */
  def entries(names: Seq[String],
              all: Map[String, Entry] = SparkEntry.queries ++ SparkEntry.benchQueries)
      : Seq[(String, Entry)] = {
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty,
      s"no catalog/bench entry named ${unknown.mkString("'", "', '", "'")}")
    names.map(n => n -> all(n))
  }

  /** Mode order for round `r` (1-based): false = A, true = B. */
  def modeOrder(r: Int): Seq[Boolean] =
    if (r % 2 == 1) Seq(false, true) else Seq(true, false)

  /** Run `body` with `confs` set, then put every key back as it was:
    * a key unset before is unset again, a set key gets its old value. */
  def withConfs[T](conf: RuntimeConfig, confs: Seq[(String, String)])(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> conf.getOption(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ConfAbProbe <sfDir> <rounds> <confs> <names>")
    val sfDir = args(0)
    val rounds = args(1).toInt
    // validate before any session spins up
    val confs = parseConfs(args(2))
    val sel = entries(args(3).split(',').toSeq)
    val spark = GraftSession.forMain(sfDir)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })

    def run(fn: Entry, alt: Boolean): Double = {
      val t0 = System.nanoTime()
      def go(): Unit = fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      if (alt) withConfs(spark.conf, confs)(go()) else go()
      (System.nanoTime() - t0) / 1e9
    }
    for (mode <- Seq(false, true); (_, fn) <- sel)
      try run(fn, mode) catch { case _: Throwable => () }
    sel.foreach { case (name, fn) =>
      Seq(false, true).foreach { mode =>
        jobs.set(0)
        try { run(fn, mode); println(s"[conf] $name alt=$mode jobs=${jobs.get}") }
        catch { case e: Throwable =>
          println(s"[conf] $name alt=$mode FAILED ${e.getMessage}") }
      }
    }
    val base = collection.mutable.Map.empty[String, Double]
    val alt = collection.mutable.Map.empty[String, Double]
    for (r <- 1 to rounds; (name, fn) <- sel; mode <- modeOrder(r)) {
      spark.sparkContext.setJobDescription(s"$name alt=$mode")
      try {
        val w = run(fn, mode)
        val m = if (mode) alt else base
        m(name) = math.min(w, m.getOrElse(name, Double.MaxValue))
      } catch { case e: Throwable =>
        System.err.println(s"[conf] $name alt=$mode failed: ${e.getMessage}")
      }
    }
    var (sb, sa) = (0.0, 0.0)
    sel.map(_._1).foreach { n =>
      (base.get(n), alt.get(n)) match {
        case (Some(b), Some(a)) =>
          sb += b; sa += a
          println(f"[conf] $n%-34s base=$b%7.3f alt=$a%7.3f ratio=${a / b}%5.3f")
        case _ => println(s"[conf] $n missing a mode")
      }
    }
    println(f"[conf] TOTAL base=$sb%8.2f alt=$sa%8.2f ratio=${sa / sb}%5.3f")
    spark.stop()
  }
}
