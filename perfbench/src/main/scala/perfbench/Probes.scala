package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own Spark listeners. Every record carries an epoch-ms
  * time so a workload can attribute it to a phase by interval. */
object Probes {

  final case class Task(stageId: Int, launchMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, inputBytes: Long, shuffleWriteBytes: Long,
                        shuffleReadBytes: Long, fetchWaitMs: Long, spillBytes: Long)
  final case class Stage(id: Int, submitMs: Long, doneMs: Long, root: Boolean)
  final case class Plan(startMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long)

  /** One committed micro-batch, from a `QueryProgressEvent`. */
  final case class Batch(batchId: Long, startOffset: Long, endOffset: Long,
                         triggerStartMs: Long, durations: Map[String, Long],
                         inputRows: Long, stateRowsTotal: Long,
                         stateMemoryBytes: Long, stateUpdateMs: Long, stateCommitMs: Long,
                         stateDroppedByWatermark: Long) {
    def endMs: Long = triggerStartMs + durations.getOrElse("triggerExecution", 0L)
  }

  /** Offsets of the in-memory source are JSON longs; `null` (or an
    * absent start) means "before the first record". */
  def parseOffset(json: String): Long =
    Option(json).map(_.trim).filter(s => s.nonEmpty && s != "null")
      .map(_.toLong).getOrElse(-1L)

  /** Collects progress of every streaming query. Registered in untraced
    * runs too: latency and throughput are computed from it. */
  final class StreamProbe extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.sources.nonEmpty && p.durationMs.containsKey("addBatch")) {
        val src = p.sources.head
        val st = p.stateOperators.headOption
        batches.add(Batch(p.batchId, parseOffset(src.startOffset),
          parseOffset(src.endOffset),
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.allUpdatesTimeMs).getOrElse(0L),
          st.map(_.commitTimeMs).getOrElse(0L),
          st.map(_.numRowsDroppedByWatermark).getOrElse(0L)))
      }
    }
    def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.batchId)
  }

  /** Jobs, stages and task metrics (traced runs only). */
  final class SparkProbe extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Long]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val tasks = new ConcurrentLinkedQueue[Task]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; d <- i.completionTime)
        stages.add(Stage(i.stageId, s, d, i.parentIds.isEmpty))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Catalyst phase timings of every executed query (traced runs only). */
  final class PlanProbe extends QueryExecutionListener {
    val plans = new ConcurrentLinkedQueue[Plan]()
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      if (ph.nonEmpty)
        plans.add(Plan(ph.values.map(_.startTimeMs).min,
          ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** All three listeners on one session; only the stream probe when
    * tracing is off. */
  final class Listeners(spark: SparkSession, traced: Boolean) {
    val stream = new StreamProbe
    val sparkProbe: Option[SparkProbe] = if (traced) Some(new SparkProbe) else None
    val plan: Option[PlanProbe] = if (traced) Some(new PlanProbe) else None
    spark.streams.addListener(stream)
    sparkProbe.foreach(spark.sparkContext.addSparkListener)
    plan.foreach(spark.listenerManager.register)

    def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    /** Spark-layer totals over the epoch-ms windows `ws`. */
    def sparkLayer(ws: Seq[(Long, Long)]): Map[String, Double] = sparkProbe.fold(
      Map.empty[String, Double]) { p =>
      def in(t: Long) = ws.exists { case (a, b) => t >= a && t < b }
      val ts = p.tasks.asScala.filter(t => in(t.launchMs)).toSeq
      val ss = p.stages.asScala.filter(s => in(s.submitMs)).toSeq
      val gap = ws.map { case (a, b) =>
        Stats.driverGap(p.stages.asScala.toSeq.map(s => (s.submitMs, s.doneMs)), a, b)
      }.sum
      val rootStages = ss.filter(_.root).map(_.id).toSet
      Map(
        "spark.jobs" -> p.jobs.asScala.count(in).toDouble,
        "spark.stages" -> ss.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "spark.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "spark.input_bytes" -> ts.map(_.inputBytes).sum.toDouble,
        "spark.shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
        "spark.shuffle_read_bytes" -> ts.map(_.shuffleReadBytes).sum.toDouble,
        "spark.shuffle_fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
        "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
        "spark.driver_gap_ms" -> gap.toDouble,
        "ingest.stage_ms" -> ts.filter(t => rootStages(t.stageId)).map(_.runMs).sum.toDouble)
    }

    def planningLayer(ws: Seq[(Long, Long)]): Map[String, Double] = plan.fold(
      Map.empty[String, Double]) { p =>
      val ps = p.plans.asScala.filter(x => ws.exists { case (a, b) =>
        x.startMs >= a && x.startMs < b }).toSeq
      Map("planning.analysis_ms" -> ps.map(_.analysisMs).sum.toDouble,
        "planning.optimization_ms" -> ps.map(_.optimizationMs).sum.toDouble,
        "planning.planning_ms" -> ps.map(_.planningMs).sum.toDouble)
    }
  }
}
