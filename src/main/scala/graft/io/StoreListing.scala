package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The data entries of a directory, as Spark's file index sees them:
  * names prefixed `_` or `.` (`_SUCCESS`, `_temporary/` left by a
  * crashed write, `_staging-*`, checksum files) are not data. The
  * idempotent sink and the store cache ([[graft.core.Memo]]) all ask
  * here, so "which files are data?" has one answer. */
private[graft] object StoreListing {

  /** Data entries of `dir`; empty when the directory does not exist. */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    } catch { case _: FileNotFoundException => Nil }

  /** Data files under `dir`, descending into data directories (a table
    * stored as a directory of part files, a `key=value` partition). */
  def files(fs: FileSystem, dir: Path): Seq[FileStatus] =
    list(fs, dir).flatMap(s => if (s.isDirectory) files(fs, s.getPath) else Seq(s))
}
