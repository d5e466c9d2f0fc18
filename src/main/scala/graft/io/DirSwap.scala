package graft.io

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** Replacing a live directory with a staged one so that a crash at any
  * step loses neither copy. The live directory is first moved to an
  * aside, a `_`-prefixed sibling that readers and [[StoreListing]]
  * ignore; the stage moves in; the aside is deleted. A crash between
  * the two moves leaves only the aside, which the next [[exists]] or
  * [[replace]] on that directory moves back. Every rename is checked. */
private[graft] object DirSwap {

  /** Replace `live` (if present) with `stage`. */
  def replace(fs: FileSystem, live: Path, stage: Path): Unit = {
    val old = aside(live)
    if (exists(fs, live)) rename(fs, live, old)
    rename(fs, stage, live)
    fs.delete(old, true)
  }

  /** Whether `live` exists, once an aside a crash left behind is moved
    * back (or dropped, when the stage had already moved in). */
  def exists(fs: FileSystem, live: Path): Boolean = {
    val old = aside(live)
    if (fs.exists(old)) {
      if (fs.exists(live)) fs.delete(old, true) else rename(fs, old, live)
    }
    fs.exists(live)
  }

  /** `fs.rename` that throws instead of returning `false`. */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"cannot move $src to $dst")

  /** The aside of `live`. No `=` in the name: Spark reads a `_` name
    * holding `=` as a partition directory. */
  def aside(live: Path): Path =
    new Path(live.getParent, s"_${live.getName.replace('=', '-')}.old")
}
