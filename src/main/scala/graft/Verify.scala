package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: only run queries whose name contains any of the
    // comma-separated substrings
    val nameFilters = args.lift(2).getOrElse("").split(',').toSeq
    val spark = GraftSession.forMain(sfDir, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must be LOUD: besides stderr, every failure is
    // recorded in outDir/errors.json (name → first exception line) so a
    // correctness report can never silently shrink on error — 30 missing
    // rows once read as a clean 80/80 (VERDICT r4 §What's wrong #2).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => nameFilters.exists(q._1.contains)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.toString)
          .linesIterator.take(3).mkString(" ").take(300)
      }
    }
    import JsonText.{str => q}
    // sf-aware: regenerates the LSH oracles when the adaptive nBits
    // leaves the pinned 8-bit regime (identical to oracleSql at every
    // driver gate scale)
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
