package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** The local (`file:`) filesystem with `setPermission` as a syscall.
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` forks
  * a `chmod` child process, and it runs for every file and directory a
  * write creates (parts, `.crc`s, attempt, partition and `_temporary`
  * directories, `_SUCCESS`): about 90 forks per call of the grouped
  * sink. Here the same mode bits go through
  * `Files.setPosixFilePermissions`; a mode nio cannot express (sticky,
  * setuid, setgid) or a store without POSIX attributes takes Hadoop's
  * own path. */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }
}

object LocalFs {
  // PosixFilePermission's declaration order is OWNER_READ … OTHERS_EXECUTE,
  // i.e. mode bits 8 down to 0
  private val bits = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (p, i) => p -> (1 << (8 - i)) }

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, b) => if ((mode & b) != 0) s.add(p) }
    s
  }

  /** [[LocalFs]] under Hadoop's checksum wrapper, so `.crc` files are
    * still written and verified. */
  final class Checked extends LocalFileSystem(new LocalFs)

  /** Spark copies a write's options into that write's Hadoop conf, so
    * the driver's commit protocol and every task's output writer resolve
    * `file:` paths to [[Checked]]. The session has already cached the
    * stock `file` filesystem, hence the cache bypass. Other schemes are
    * unaffected. */
  private val options = Map(
    "fs.file.impl" -> classOf[Checked].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` for every file write of the pipeline. */
  def write(df: DataFrame): DataFrameWriter[Row] = df.write.options(options)
}
