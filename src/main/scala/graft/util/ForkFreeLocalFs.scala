package graft.util

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FSDataInputStream, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without the shell forks.
  *
  * Without libhadoop (NativeIO), Hadoop 3.4's local file system starts a
  * process for two calls every streaming checkpoint makes: `chmod` in
  * [[setPermission]] (after every create and mkdir with a permission) and
  * `readlink` in [[getFileLinkStatus]] (FileContext's rename stats source and
  * target, and the `.crc` twin of each). Both are one `java.nio` call here;
  * every other method is Hadoop's.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions` on the same file `chmod` got. NIO has
    * no sticky/setuid bits, so permissions beyond 0777 keep Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is owner rwx, group rwx, others rwx: ordinal i is bit 0400 >> i
      PosixFilePermission.values.foreach { pp =>
        if ((bits & (0x100 >> pp.ordinal)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Hadoop's default (`useDeprecatedFileStatus`) link status, with the
    * shell `readlink` replaced by [[readLink]].
    */
  override def getFileLinkStatus(p: Path): FileStatus = {
    val target = readLink(p)
    val fi =
      try {
        val fs = getFileStatus(p)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), p)
      } catch {
        // a dangling link: the target is gone but the link is not
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), p)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** What `FileUtil.readLink` returns, without running `readlink`: the
    * trimmed link target of `new File(p.toString)`, or "" when that is not a
    * symlink or cannot be read. A qualified `file:/x` path names a relative
    * file called `file:/x` there, so it reads "" in both.
    */
  private def readLink(p: Path): String =
    try {
      val link = new File(p.toString).toPath
      if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** The `file:` FileSystem (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFs` (package-private in Hadoop) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file:` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`), the
  * shape of Hadoop's `LocalFs`: `ChecksumFs` over the fork-free raw file
  * system, so `.crc` files and FileContext's fail-if-exists rename stay
  * Hadoop's. The URI argument is the one `AbstractFileSystem` passes every
  * implementation; like `LocalFs`, this one is always `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf)) {

  /** Reads through `ChecksumFs`' verifying `open(path, bufferSize)`.
    * `FilterFs.open(path)` hands the raw file system's stream out
    * unverified (in Hadoop's `LocalFs` too), and it is the call
    * `FileContext.open(path)` and Spark's checkpoint file manager make.
    */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}
