package graft

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem,
  FileAlreadyExistsException, FileStatus, FSDataOutputStream,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's local filesystem without a child process per call.
  * Without the native-hadoop library, `RawLocalFileSystem` runs `chmod`
  * for every permission it sets (every file or directory it creates)
  * and `readlink` for every link-status lookup (every `FileContext`
  * rename). A checkpointed micro-batch pays ~60 such spawns. These do
  * the same work through `java.nio`; the cases nio cannot express (a
  * sticky bit, a non-POSIX store, an actual symlink) go to `super`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  // Stock `create(overwrite = false)` checks `exists` and then opens,
  // so two racing creators can both succeed: once create stopped
  // spawning `chmod`, both of ValidateSpec's concurrent run-marker
  // claims won. Claiming the name with O_EXCL first makes exactly one
  // win, as on HDFS; `Validate.writeReport` relies on that.
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (!overwrite) {
      val parent = f.getParent
      if (parent != null) mkdirs(parent)
      try Files.createFile(pathToFile(f).toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"File already exists: $f")
      }
    }
    super.create(f, permission, true, bufferSize, replication, blockSize,
      progress)
  }

  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit || !ForkFreeRawLocalFileSystem.posix)
      super.setPermission(p, perm)
    else {
      // not `perm.toString`: FileContext passes `FsCreateModes`, whose
      // toString is not the `rwxr-x---` form. PosixFilePermission's
      // order is owner rwx, group rwx, others rwx: bits 8 down to 0.
      val bits = perm.toShort
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { pp =>
        if ((bits & (1 << (8 - pp.ordinal))) != 0) set.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }

  // Stock Hadoop runs `readlink` on `new File(f.toString)`: a qualified
  // `file:/…` path names no such file there, so it is never a link.
  // The same lookup here keeps the returned status identical.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private lazy val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `fs.file.impl`: the checksummed local filesystem over the fork-free
  * raw one, so `.crc` sidecars are written and verified as before. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` view that
  * Spark's checkpoint file manager writes through: Hadoop's `LocalFs`
  * with the fork-free raw filesystem underneath. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
    // the overrides Hadoop's RawLocalFs makes
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  })
