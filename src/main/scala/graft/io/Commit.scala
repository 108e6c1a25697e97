package graft.io

import java.io.{BufferedOutputStream, IOException, OutputStream}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/** The engine's one crash-safe commit: every file or directory tree
  * replaced in place goes through here.
  *
  * Hadoop's rename does not overwrite, so a replace parks the live
  * tree at its hidden sibling `.<name>.old`, promotes the fresh tree
  * (staged at `.<name>.tmp`) to the live name, and deletes the park.
  * At every step the data exists in full — live, parked, or both —
  * and [[heal]] tells the swap state from the disk alone: a park
  * beside a live tree is a completed swap's leftover (delete it), a
  * park with no live tree an interrupted one (rename it back). Every
  * writer heals on entry, so the next writer call finishes or undoes
  * a crash at any step. Dot-prefixed names are skipped by Spark's
  * partition discovery and Hadoop's input listing.
  *
  * Hadoop reports a failed rename or delete by returning `false`;
  * every such `false` here throws an [[IOException]] naming the
  * caller's operation (`what`) and the paths. One writer per live
  * path is assumed (the callers' single-maintenance-thread rule).
  */
object Commit {

  /** Where [[swap]] parks the live tree while the fresh one moves in. */
  def park(live: Path): Path = new Path(live.getParent, s".${live.getName}.old")

  /** Where a fresh copy of `live` is written before [[swap]]. */
  def stage(live: Path): Path = new Path(live.getParent, s".${live.getName}.tmp")

  /** Write `p` whole or not at all: `write` fills the stage through a
    * 64 KB buffer, then [[swap]]s it in; on failure the stage goes. */
  def writeFile(fs: FileSystem, p: Path, what: String)(
      write: OutputStream => Unit): Unit = {
    val tmp = stage(p)
    try {
      val out = new BufferedOutputStream(fs.create(tmp, true), 1 << 16)
      try write(out) finally out.close()
      swap(fs, p, tmp, what)
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case NonFatal(d) => e.addSuppressed(d) }
        throw e
    }
  }

  /** Replace `live` with `fresh` (an absent `fresh`: with nothing).
    * Heals first, then parks `live`, promotes `fresh` and deletes the
    * park; a failed promote renames the park back before it throws. */
  def swap(fs: FileSystem, live: Path, fresh: Path, what: String): Unit = {
    heal(fs, live, what)
    val parked = park(live)
    val hadLive = fs.exists(live)
    if (hadLive) rename(fs, live, parked, what)
    if (fs.exists(fresh) && !fs.rename(fresh, live)) {
      val restored = hadLive && fs.rename(parked, live)
      throw new IOException(s"$what: could not promote $fresh to $live" + (if (restored)
        "; original restored" else if (hadLive) s"; original left at $parked" else ""))
    }
    if (hadLive) delete(fs, parked, what)
  }

  /** Finish or undo an interrupted [[swap]] of `live`: one existence
    * probe when there is nothing to heal. */
  def heal(fs: FileSystem, live: Path, what: String = "heal"): Unit = {
    val parked = park(live)
    if (fs.exists(parked)) {
      if (fs.exists(live)) delete(fs, parked, what)
      else rename(fs, parked, live, what)
    }
  }

  /** [[heal]] every child of `root` that has a park, and delete every
    * stage a writer left when it died before its swap. */
  def healChildren(fs: FileSystem, root: Path, what: String = "heal"): Unit =
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") && n.endsWith(".old"))
        heal(fs, new Path(root, n.drop(1).dropRight(4)), what)
      else if (n.startsWith(".") && n.endsWith(".tmp"))
        delete(fs, st.getPath, what)
    }

  private def rename(fs: FileSystem, src: Path, dst: Path, what: String): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"$what: rename $src -> $dst failed")

  private def delete(fs: FileSystem, p: Path, what: String): Unit =
    if (!fs.delete(p, true)) throw new IOException(s"$what: could not delete $p")
}
