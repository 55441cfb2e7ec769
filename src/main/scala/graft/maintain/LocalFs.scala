package graft.maintain

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset, SparkSession}

/** The local file system every batch Spark write of the program creates
  * its files through: Hadoop's checksummed `LocalFileSystem` (data files and
  * their `.crc` sidecars as before) over a raw file system whose
  * `setPermission` is one `java.nio.file.Files.setPosixFilePermissions`
  * call, the `chmod(2)` Hadoop's native path makes.
  *
  * Without `libhadoop`, the stock `RawLocalFileSystem.setPermission` forks
  * a `chmod` process for every created file, every `.crc` and every new
  * directory: about 6.5 ms per file against 0.14 ms here (a 500-file create
  * loop, 3 GB heap). JFR `jdk.ProcessStart` counts a `serve_api` bench run
  * (4-core host) at 2,958 processes on the stock file system, 2,947 of them
  * `chmod`s on executor threads in [[Layout.writeFact]], and at 6 through
  * this one. A mode the NIO call cannot express (above `0777`: sticky,
  * setuid) or a file store without POSIX attributes takes Hadoop's own
  * path.
  *
  * Writes reach it through [[write]], which sets two Hadoop keys as
  * writer options; Spark copies a batch writer's options into the write
  * job's Hadoop conf, so the parquet writer, the output committer and the
  * dynamic-overwrite commit all open this file system. The cache is
  * disabled for that conf because `FileSystem.CACHE` is keyed by scheme
  * and user, not by conf: it would keep handing back the stock instance
  * the session opened first. The keys ride on the writer, not on the
  * session, so a caller that builds its own session gets them too. Reads
  * and the single-file creates outside a write job (manifests, refs) stay
  * on the session's file system. A stream reaches this one only through
  * `foreachBatch`: Spark 4.1's `FileStreamSink` builds its Hadoop conf from
  * the session alone, so a file sink's writer options cannot reach it, and
  * `StreamingIngest.factSink` writes each batch with [[write]] instead. The
  * stream's checkpoint stays on the session's file system.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.toShort > 0x1ff) super.setPermission(p, permission) // above 0777
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  private val options = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `ds.write`, creating its files through [[LocalFs]]. */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(options)

  /** The file system of `path` as the jobs of [[write]] open it, for the
    * directories a caller makes outside a write job. Uncached: the caller
    * closes it.
    */
  def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConfWithOptions(options))
}
