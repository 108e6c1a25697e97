package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Local filesystem under the `crash` scheme that fails the k-th
  * rename or delete `graft.io.Commit` issues after
  * [[CrashFileSystem.arm]]. Only Commit's own steps count (the
  * calling stack is checked), so Spark's output committer, which
  * renames too, never uses up the count.
  *
  * Two ways to fail the step: `crash = false` returns `false` there
  * once (Hadoop's failure signal, no exception); `crash = true`
  * throws there and at every later rename or delete from any caller,
  * as if the process had died, until [[CrashFileSystem.disarm]] — so
  * no cleanup or rollback step runs after the crash.
  */
class CrashFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crash:///")
  override def rename(src: Path, dst: Path): Boolean =
    CrashFileSystem.step() && super.rename(src, dst)
  override def delete(p: Path, recursive: Boolean): Boolean =
    CrashFileSystem.step() && super.delete(p, recursive)
}

object CrashFileSystem {
  private final case class Plan(k: Int, crash: Boolean)
  private val plan = new AtomicReference[Option[Plan]](None)
  private val steps = new AtomicInteger(0)
  private val fired = new AtomicBoolean(false)
  private val down = new AtomicBoolean(false)

  /** Route `crash://` paths of this session to the fake. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crash.impl", classOf[CrashFileSystem].getName)
    conf.set("fs.crash.impl.disable.cache", "true")
  }

  def uninstall(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.unset("fs.crash.impl")
    conf.unset("fs.crash.impl.disable.cache")
  }

  /** Fail the `k`-th Commit step from now (k ≥ 1). */
  def arm(k: Int, crash: Boolean): Unit = {
    steps.set(0); fired.set(false); down.set(false)
    plan.set(Some(Plan(k, crash)))
  }

  /** Stop failing; true when the armed step was reached. */
  def disarm(): Boolean = {
    plan.set(None); down.set(false)
    fired.get
  }

  /** The number of Commit steps `body` takes, failing none. */
  def count(body: => Any): Int = {
    arm(Int.MaxValue, crash = false)
    try body finally disarm()
    steps.get
  }

  private def step(): Boolean = {
    if (down.get) throw new java.io.IOException("crash: the process is down")
    val fromCommit = Thread.currentThread.getStackTrace
      .exists(_.getClassName.startsWith("graft.io.Commit"))
    plan.get match {
      case Some(Plan(k, crash)) if fromCommit && steps.incrementAndGet() == k =>
        fired.set(true)
        if (crash) {
          down.set(true)
          throw new java.io.IOException(s"crash: injected at Commit step $k")
        }
        false
      case _ => true
    }
  }
}
