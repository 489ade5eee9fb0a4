package perfbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system without child processes.
 *
 * Without the native Hadoop library, `RawLocalFileSystem` runs a `chmod`
 * child process for every file it creates and a `readlink` one for every
 * link-status lookup, which `FileContext.rename` makes twice. A streaming
 * query creates and renames several state and checkpoint files per
 * micro-batch, so each micro-batch would wait on process creation and its
 * latency would follow how fast the host forks, not the code under test.
 * Here both go through java.nio, with the same results. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    NoForkRawLocalFileSystem.ByBit.foreach { case (bit, perm) => if ((bits & bit) != 0) set.add(perm) }
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
  }
}

object NoForkRawLocalFileSystem {
  private val ByBit: Seq[(Int, PosixFilePermission)] = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)
}

/** `fs.file.impl`: the checksummed local `FileSystem` over it. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the same for the `FileContext` API,
 * which Spark's default checkpoint file manager writes state files with. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))

class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false)
