package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Per-stage metrics for bench entries — the r11 VERDICT #3
  * protocol: the sf100 rung bent `bench_sim_ivf_fq` (e(25→100) =
  * 1.28) and `bench_sim_ivfpq_build_fq` (0.95) and SCALE.md
  * attributed it to a spill/IO boundary WITHOUT stage evidence. This
  * runs a named catalog/bench entry under a stage listener and prints
  * one line per stage (tasks, executor run time, input/shuffle bytes,
  * memory+disk spill, peak execution memory), so a cross-rung diff
  * localizes a bend to the stage — and the metric — that caused it.
  *
  * Each attempt's header line also carries the Spark job count, the
  * stages those jobs declared (`stages`, skipped ones included) and
  * the stages that ran (`ran`), and the total shuffle bytes written.
  * With attempts = 2 the second header is the warm steady state: at
  * bench scale the expensive entries are scheduling-latency-bound, so
  * the job count is the denominator the wall divides into. The
  * shuffle codec is fixed at SparkContext creation, so a codec A/B is
  * one process per codec, e.g. a zstd leg under
  * `SPARK_GRAFT_EXTRA_JAVA_OPTS=-Dspark.io.compression.codec=zstd`
  * (ABBA order across processes); shuffle bytes are its noise-immune
  * metric.
  *
  * Usage: runMain graft.tools.StageProbe <sfDir> <name[,name,…]> [attempts]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProbe <sfDir> <name[,name,…]> [attempts]")
    val sfDir = args(0)
    val sel = ConfAbProbe.entries(args(1).split(',').toSeq)
    val attempts = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tuneFor(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus),
      sfDir, cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class St(id: Int, name: String, tasks: Int, runMs: Long,
                  inputB: Long, shReadB: Long, shWriteB: Long,
                  spillMemB: Long, spillDiskB: Long, peakExecB: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobStages = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStages.addAndGet(js.stageInfos.size)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.name.linesIterator.next().take(100),
            si.numTasks, m.executorRunTime,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled, m.diskBytesSpilled,
            m.peakExecutionMemory)
        }
      }
    })

    for ((name, fn) <- sel; a <- 1 to attempts) {
      stages.synchronized(stages.clear())
      jobs.set(0); jobStages.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener delivery is async — settle before reading
      Thread.sleep(1500)
      val snap = stages.synchronized(stages.sortBy(-_.runMs).toSeq)
      def mb(b: Long) = f"${b / 1048576.0}%.0f"
      println(f"== $name attempt $a: wall=$wall%.1fs jobs=${jobs.get} " +
        f"stages=${jobStages.get} ran=${snap.size} " +
        f"totalRun=${snap.map(_.runMs).sum / 1000.0}%.1fs " +
        f"shW=${snap.map(_.shWriteB).sum / 1024}KB " +
        f"spillDisk=${mb(snap.map(_.spillDiskB).sum)}MB")
      snap.take(12).foreach { s =>
        println(f"[stage ${s.id}%4d] run=${s.runMs / 1000.0}%7.1fs " +
          f"tasks=${s.tasks}%3d in=${mb(s.inputB)}%6sMB " +
          f"shR=${mb(s.shReadB)}%6sMB shW=${mb(s.shWriteB)}%6sMB " +
          f"spillM=${mb(s.spillMemB)}%6sMB spillD=${mb(s.spillDiskB)}%6sMB " +
          f"peak=${mb(s.peakExecB)}%6sMB  ${s.name}")
      }
    }
    spark.stop()
  }
}
