package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Replace a live directory with a fully written stage so that a
  * complete tree — live, stage or retired — is on disk at every
  * instant: the live dir is renamed aside to `<live>_retired`, the
  * stage is renamed in, and only then is the retired copy dropped.
  * Both renames are O(1); a delete-then-rename swap instead leaves no
  * live tree for the duration of the recursive delete. Hadoop's
  * `rename` reports failure by returning false, so every rename is
  * checked and a refused one throws. */
object DirSwap {

  private def retired(live: Path): Path = new Path(live.getParent, s"${live.getName}_retired")

  /** Swap `stage` in as `live`. If the stage cannot be renamed in, the
    * retired copy goes back before the failure propagates. */
  def publish(fs: FileSystem, stage: Path, live: Path): Unit = {
    val old = retired(live)
    fs.delete(old, true) // a retired copy an interrupted swap left behind
    if (fs.exists(live))
      require(fs.rename(live, old), s"could not retire $live -> $old")
    val published = try fs.rename(stage, live) finally restore(fs, live, old)
    require(published, s"could not publish $stage -> $live")
    fs.delete(old, true)
  }

  /** Finish or undo a swap a crash interrupted, before the next one: a
    * COMPLETE stage (`_SUCCESS`) is published; an incomplete one is
    * discarded, a retired copy goes back if the crash fell between the
    * two renames, and a retired copy beside a live tree is dropped. */
  def recover(fs: FileSystem, stage: Path, live: Path): Unit =
    if (fs.exists(new Path(stage, "_SUCCESS"))) publish(fs, stage, live)
    else {
      val old = retired(live)
      fs.delete(stage, true)
      restore(fs, live, old)
      fs.delete(old, true)
    }

  private def restore(fs: FileSystem, live: Path, old: Path): Unit =
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"could not restore $old -> $live")
}
