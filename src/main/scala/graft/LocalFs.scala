package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The program's one route to a file sink: every parquet write under
  * `src/main` starts from [[LocalFs.write]] or [[LocalFs.writeStream]]
  * (ContractSpec pins this).
  *
  * Without the native Hadoop library, Hadoop's `RawLocalFileSystem`
  * sets the mode of every file and dir it creates by forking a `chmod`
  * child process: each parquet part file, its `.crc` sidecar, and each
  * partition, staging and `_temporary` dir. A 576-partition ingest cycle
  * forked about 1,900 of them, and the sink's wall time sat far above its
  * CPU time. The writer options below make the `file:` scheme of that one
  * write resolve [[NioLocalFs]], which sets the same mode through
  * `java.nio` — the `chmod` syscall a host with native Hadoop makes too.
  *
  * Spark copies writer options into the write job's Hadoop conf
  * (`newHadoopConfWithOptions`), which the tasks and the driver-side
  * commit (dynamic overwrite's renames, `mkdirs`, partition deletes) both
  * use; turning the `file:` cache off for that conf keeps the session's
  * cached default file system from answering instead. Reads and every
  * other session conf keep the default `file:` file system, and other schemes
  * (S3A, HDFS) never fork and ignore these keys. Streaming checkpoint
  * metadata is written through the session conf, not the sink options. */
object LocalFs {

  /** Writer options that select [[NioLocalFs]] for `file:` paths. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` with [[options]]. */
  def write(df: DataFrame): DataFrameWriter[Row] = df.write.options(options)

  /** `df.writeStream` with [[options]]: a file sink passes them to the
    * Hadoop conf of each micro-batch write. */
  def writeStream(df: DataFrame): DataStreamWriter[Row] = df.writeStream.options(options)
}

/** `RawLocalFileSystem` whose `setPermission` sets the POSIX mode through
  * `java.nio` instead of a forked `chmod`. The mode is the same: the
  * nine `rwx` bits of `FsPermission`. A sticky-bit mode, which `java.nio`
  * cannot express, and a file store without POSIX permissions take the
  * stock path. */
class NioRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** The checksummed `file:` file system over [[NioRawLocalFs]]: the same
  * `.crc` sidecars as the stock `LocalFileSystem`. */
class NioLocalFs extends LocalFileSystem(new NioRawLocalFs)
