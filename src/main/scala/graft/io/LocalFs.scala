package graft.io

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes. Without libhadoop
  * the stock `RawLocalFileSystem` runs `chmod` for every permission set
  * (each created file, `.crc` sidecar and directory) and `readlink` for
  * every link lookup (each FileContext rename and exists check): one
  * fork + exec per call. These two overrides make the same syscalls
  * through NIO; every answer, file and permission bit stays the same.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO (following links, like `chmod` does). The
    * sticky bit has no NIO form and keeps the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission lists owner rwx, group rwx, others rwx:
      // ordinal i is octal bit 8 - i
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(q => if ((bits & (1 << (8 - q.ordinal))) != 0) perms.add(q))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** Hadoop's (default, non-`stat`) link status, with the forked
    * `readlink` of `new File(f.toString)` read through NIO instead. As
    * in Hadoop, a scheme-qualified `f` names a relative file that never
    * exists, so it reads as "not a link".
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    val fi =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link: the link exists, its target does not
        case _: java.io.FileNotFoundException if target.nonEmpty =>
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** `FileUtil.readLink`'s answer: the trimmed link text, "" if `f` is
    * not a readable link.
    */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: the checksummed FileSystem over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw FileContext filesystem: Hadoop's `RawLocalFs` (whose
  * constructors are package-private) over the fork-free raw one.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as in RawLocalFs", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext
  * filesystem (Hadoop's `LocalFs`) over the fork-free raw one.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object LocalFs {

  val FileSystemKey = "fs.file.impl"
  val FileContextKey = "fs.AbstractFileSystem.file.impl"

  /** Resolve `file:` through the fork-free classes in `conf`, unless
    * the caller set either key (anywhere but Hadoop's own defaults).
    * FileSystem instances are cached per scheme and user: one created
    * before this call keeps its class.
    */
  def bind(conf: Configuration): Unit =
    if (!Seq(FileSystemKey, FileContextKey).exists(callerSet(conf, _))) {
      conf.set(FileSystemKey, classOf[ForkFreeLocalFileSystem].getName)
      conf.set(FileContextKey, classOf[ForkFreeLocalFs].getName)
    }

  private def callerSet(conf: Configuration, key: String): Boolean =
    conf.get(key) != null &&
      Option(conf.getPropertySources(key)).exists(_.exists(_ != "core-default.xml"))
}
