package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without shell calls.
  *
  * Without the Hadoop native library, `RawLocalFileSystem` starts a
  * `chmod` process for every file or directory it creates with a
  * permission, and a `readlink` process for every `getFileLinkStatus`
  * (two per `FileContext` rename, whose checksummed form renames the
  * `.crc` sibling too). Streaming checkpoints, state-store deltas and
  * parquet writes pay these per file. This subclass answers both in
  * process through `java.nio` and otherwise is the stock class:
  *
  *  - `setPermission` sets the nine rwx bits through the POSIX
  *    attribute view; the sticky bit (which `java.nio` cannot set) and
  *    a store without POSIX attributes go to `super`.
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is what `super` returns for it; a symbolic
  *    link goes to `super`.
  *
  * `GraftSession.localFsConfs` registers these classes for `file:`.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  import InProcessRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
    if (permission.getStickyBit || view == null) super.setPermission(p, permission)
    else {
      val mode = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for ((bit, perm) <- Bits if (mode & bit) != 0) perms.add(perm)
      view.setPermissions(perms)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object InProcessRawLocalFileSystem {
  /** Mode bit → POSIX permission, owner read (0400) to others execute (0001). */
  private val Bits: Seq[(Int, PosixFilePermission)] =
    PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => (0x100 >> i) -> p }
}

/** The checksummed `file:` `FileSystem` (`fs.file.impl`) over
  * [[InProcessRawLocalFileSystem]]; `FileSystem.getLocal` casts to
  * `LocalFileSystem`, so this extends it.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `FileContext`'s raw `file:` file system: stock `RawLocalFs` with
  * [[InProcessRawLocalFileSystem]] underneath, its overrides copied.
  */
class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`), as stock `LocalFs`.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf))
