package graft.maintain

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe in-place replacement of a directory: a table root, or one
  * partition dir inside it. The new contents are written to a staged
  * sibling no reader of the table lists; the live dir is then renamed to a
  * backup, the staged dir renamed into place, and the backup deleted. Live
  * data is never deleted before its replacement is in place, so every
  * crash point leaves one complete copy on disk, and [[recover]] puts it
  * back at the live path.
  *
  * A partition dir (`col=value`) sits inside its table root, so its staged
  * copy and backup take a `.` prefix, which Spark's file index skips; a
  * table root's siblings are outside the table already.
  */
object Promote {

  /** `live`'s (filesystem, staged copy, backup). */
  private def paths(spark: SparkSession, live: Path): (FileSystem, Path, Path) = {
    val name = (if (live.getName.contains("=")) "." else "") + live.getName
    (live.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(live.getParent, name + "__staged"), new Path(live.getParent, name + "__backup"))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"could not rename $from to $to")

  /** Undoes an interrupted [[replace]] of `live`: restores the backup if the
    * live dir is missing, drops it if the swap had completed, and drops a
    * leftover staged copy.
    */
  def recover(spark: SparkSession, live: String): Unit = {
    val p = new Path(live)
    val (fs, staged, backup) = paths(spark, p)
    if (fs.exists(backup)) {
      if (fs.exists(p)) fs.delete(backup, true) else rename(fs, backup, p)
    }
    fs.delete(staged, true)
    ()
  }

  /** Replaces `live` (created if missing) with what `write` writes to the
    * staged path it is given. If `write` throws, the staged copy is deleted
    * and `live` is left as it was.
    */
  def replace(spark: SparkSession, live: String)(write: String => Unit): Unit = {
    recover(spark, live)
    val p = new Path(live)
    val (fs, staged, backup) = paths(spark, p)
    try write(staged.toString)
    catch { case e: Throwable => fs.delete(staged, true); throw e }
    if (fs.exists(p)) rename(fs, p, backup)
    rename(fs, staged, p)
    fs.delete(backup, true)
    ()
  }
}
