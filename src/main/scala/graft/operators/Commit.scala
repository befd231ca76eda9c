package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** The house commit policy, in one place: how a new directory tree
  * replaces a live one, and how a small file lands whole. Every
  * rewrite-in-place maintenance operation (registry compaction and
  * deletion, delta-log deletion, index absorption) and the daily
  * compacted-log sink go through [[swap]]; the commit-log and params
  * files go through [[file]].
  */
object Commit {

  /** Replace the tree at `live` with the one `write` produces, never
    * leaving `live` half-written:
    *
    *  1. clear any leftover `next`, then `write(next)` (a writer that
    *     throws leaves `live` untouched and `next` cleared);
    *  2. rename `live` to `pre`, if `live` exists;
    *  3. rename `next` to `live` — on failure raise, naming `pre` as the
    *     intact previous tree;
    *  4. run `installed` (re-register a catalog table, carry sibling
    *     artifacts out of `pre`) — a hook that throws leaves the new
    *     tree live and `pre` in place;
    *  5. delete `pre`, raising if the delete fails.
    *
    * A crash between 2 and 3 leaves `live` absent and the previous tree
    * whole at `pre`. A lingering `pre` is therefore recoverable state,
    * never garbage: swap refuses to run over it, naming it, rather than
    * guessing which side of the crash it is on. Callers check their own
    * marker first so their refusal carries their recovery.
    */
  def swap(fs: FileSystem, live: Path, pre: Path, next: Path)
          (write: Path => Unit)(installed: => Unit): Unit = {
    require(!fs.exists(pre),
      s"interrupted swap: $pre still holds the previous tree of $live — " +
        s"restore it to $live (or delete it if $live holds the completed " +
        "new tree) before writing again")
    fs.delete(next, true)
    try write(next)
    catch { case e: Throwable => scala.util.Try(fs.delete(next, true)); throw e }
    if (fs.exists(live) && !fs.rename(live, pre))
      sys.error(s"could not move $live aside to $pre — $live is unchanged")
    if (!fs.rename(next, live))
      sys.error(s"could not install $next at $live — the previous tree " +
        s"is intact at $pre; restore it to $live")
    installed
    if (fs.exists(pre) && !fs.delete(pre, true))
      sys.error(s"swap COMPLETED but the superseded tree at $pre could " +
        s"not be deleted — delete it manually to unblock later writes " +
        s"(the new tree is live at $live)")
  }

  /** Write `bytes` to a hidden temp sibling of `path` and rename it in
    * (atomic on HDFS, close enough locally). Returns whether the rename
    * won; on a lost rename the temp file is removed and `path` is left
    * as it was — the caller decides what a lost rename means.
    */
  def file(fs: FileSystem, path: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs.rename(tmp, path) || { fs.delete(tmp, false); false }
  }
}
