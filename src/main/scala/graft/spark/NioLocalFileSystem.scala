package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A checksummed local file system ([[LocalFileSystem]]) that sets
  * permissions in-process.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` follows every file
  * and directory it creates (and every `.crc` sidecar) with
  * `setPermission`, which forks a `chmod` process — a few milliseconds
  * each, and one `ExtractJob.run` of 64 buckets forks about 210 of them.
  * This file system sets the same nine mode bits with
  * `Files.setPosixFilePermissions` instead and falls back to Hadoop's own
  * `setPermission` for what NIO cannot express:
  *  - a permission with the sticky bit;
  *  - a file store without the POSIX attribute view.
  *
  * Select it per write, never globally, through the write's options:
  * {{{
  *   .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
  *   .option("fs.file.impl.disable.cache", "true")
  * }}}
  * Spark merges write options into the write job's Hadoop conf, so both
  * keys reach the tasks, the output committer and `_SUCCESS`.
  * `disable.cache` is required: the FileSystem cache keys on
  * scheme/authority/user, not on the conf, so without it the write would
  * get whichever `file:` instance the JVM cached first. The keys act only
  * on `file:` paths; `hdfs:` or `s3a:` output keeps its own file system. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** the write options that select [[NioLocalFileSystem]] for `file:` paths */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      if (permission.getStickyBit) return super.setPermission(p, permission)
      val rwx = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
