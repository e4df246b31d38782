package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one at-rest directory swap: a UNIT of (staged, live) directory
  * pairs under `root` that must change together — a warehouse table,
  * the touched partitions of a merge, an index's postings + manifest, a
  * zone sidecar. One naming scheme for every unit `name`, member `rel`:
  *
  *   live     root/rel
  *   staged   root/.name.stage/rel
  *   stashed  root/.name.aside/rel
  *
  * Dot-prefixed names are hidden from Spark's file listing, so neither
  * side directory is ever read as data or as a partition value.
  *
  * Protocol: the writer fully writes every staged member, then
  * [[commit]] creates the aside root — the COMMIT POINT, one fact
  * already visible on disk — stashes every live member into it,
  * promotes every staged member, and drops both side roots. Before the
  * commit point nothing live has moved, so a dead writer rolls BACK
  * (its stage is garbage); after it every staged member is complete, so
  * a dead writer rolls FORWARD. [[resolve]] is the non-mutating reader
  * view of that rule; [[recover]] is its mutating twin for the next
  * writer. SINGLE-WRITER per unit: a concurrent commit would look like a
  * dead one to `recover`.
  */
private[graft] final class DirSwap(fs: FileSystem, root: Path,
    name: String) {
  private val stageRoot = new Path(root, s".$name.stage")
  private val asideRoot = new Path(root, s".$name.aside")
  private def live(rel: String) = new Path(root, rel)
  private def aside(rel: String) = new Path(asideRoot, rel)

  /** Where the writer stages member `rel`. */
  def stage(rel: String): Path = new Path(stageRoot, rel)

  /** A commit passed its commit point and has not finished. */
  def committed: Boolean = fs.exists(asideRoot)

  /** Debris of an unfinished commit (either side root) exists. */
  def pending: Boolean = committed || fs.exists(stageRoot)

  /** Reader view of member `rel`: its staged copy while a committed
    * unit is mid-promote, else the live path. Mutates nothing.
    */
  def resolve(rel: String): Path =
    if (committed && fs.exists(stage(rel))) stage(rel) else live(rel)

  /** Writer entry: finish a committed unit — promote every member of
    * `members` still staged — or discard an uncommitted stage.
    */
  def recover(members: Seq[String]): Unit = {
    if (committed) {
      members.filter(r => fs.exists(stage(r))).foreach { r =>
        if (fs.exists(live(r))) move(live(r), aside(r))
        move(stage(r), live(r))
      }
      fs.delete(asideRoot, true)
    }
    fs.delete(stageRoot, true)
  }

  /** Stash every live member, promote every staged one. A failed rename
    * rolls the whole unit back (promoted members return to the stage,
    * stashed ones to live, then the commit point is removed); a rollback
    * that fails too leaves the unit committed for [[recover]].
    */
  def commit(members: Seq[String]): Unit = {
    if (committed)
      throw new java.io.IOException(s"$asideRoot: unrecovered prior commit")
    fs.mkdirs(asideRoot)
    val stashed = members.filter(r => fs.exists(live(r)))
    var done = Seq.empty[(Path, Path)]
    def step(from: Path, to: Path): Unit = {
      move(from, to); done :+= (from -> to)
    }
    try {
      stashed.foreach(r => step(live(r), aside(r)))
      members.foreach(r => step(stage(r), live(r)))
    } catch {
      case e: Throwable =>
        try {
          done.reverse.foreach { case (from, to) => move(to, from) }
          fs.delete(asideRoot, true)
          fs.delete(stageRoot, true)
        } catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
    fs.delete(asideRoot, true)
    fs.delete(stageRoot, true)
  }

  private def move(from: Path, to: Path): Unit = {
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")
  }
}
