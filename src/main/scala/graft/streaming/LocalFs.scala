package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its process forks.
  *
  * When the Hadoop native library is not loaded, `RawLocalFileSystem` runs
  * `chmod` for every file create and mkdir with a permission, and
  * `readlink` for every `getFileLinkStatus` (four per FileContext rename).
  * A streaming micro-batch writes a dozen checkpoint and output files, so
  * those forks were most of its commit time. Here both go through NIO;
  * only what NIO cannot express (a sticky bit, a real symlink) still goes
  * to Hadoop's own code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE from bit 8 down
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }

  override def getFileLinkStatus(p: Path): org.apache.hadoop.fs.FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed local filesystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `AbstractFileSystem` (FileContext) binding, as
  * `org.apache.hadoop.fs.local.RawLocalFs` but over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true // the OS validates local names
}

/** `fs.AbstractFileSystem.file.impl`: the FileContext binding that the
  * streaming checkpoint (offsets and commits logs, state store) writes
  * through, with the same `.crc` sidecars as `org.apache.hadoop.fs.local.LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
