package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain formatted` for every catalog query — the plan-review
  * loop the brief mandates (pushdown reached the scan? dims broadcast?
  * whole-stage codegen spans wide?). Usage:
  *   runMain graft.Explain <sfDir> <outDir> [names...]
  * Runs under Bench's session ([[GraftSession.forMain]]: core count
  * from $SPARK_GRAFT_CPUS, default 4, and the data-sized shuffle width
  * of [[GraftSession.tuneFor]]), so a dump shows the plans Bench runs.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = GraftSession.forMain(sfDir)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.catalog.foreach { q =>
      if (only.isEmpty || only.contains(q.name)) try {
        val plan = q.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), plan)
      } catch { case e: Throwable =>
        Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), s"FAILED: $e")
      }
    }
    spark.stop()
  }
}
