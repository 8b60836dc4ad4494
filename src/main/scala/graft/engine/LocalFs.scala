package graft.engine

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem,
  FSDataInputStream, FileStatus, FSLinkResolver, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with the two calls that start an OS
  * process when libhadoop is absent done through java.nio instead:
  * `setPermission` (a `chmod` per created file and directory) and
  * `getFileLinkStatus` (a `readlink` per FileContext rename — Spark's
  * checkpoint path for offsets, commits and state-store deltas). Every
  * other call, and the result of these two, is the stock class's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits `chmod` would set. Bits NIO cannot express (sticky;
    * a directory's setuid/setgid, which `chmod 0755` keeps and a plain
    * `chmod(2)` clears) go to the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort & 0xfff
    lazy val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    if ((mode & ~0x1ff) != 0 ||
        ((current & 0xf000) == 0x4000 && (current & 0xc00) != 0))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file,
      PosixFilePermissions.fromString(new FsPermission(mode.toShort).toString))
  }

  /** Stock's default path (the deprecated one; `Stat`, which forks too,
    * only runs after `useStatIfAvailable()`), including its dangling-link
    * and missing-path branches. The link is read as `FileUtil.readLink`
    * reads it: the immediate target, "" for a non-link or an error. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try {
        val link = new File(f.toString).toPath
        if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim
        else ""
      } catch { case _: IOException | _: InvalidPathException => "" }
    val fi =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication,
          fs.getBlockSize, fs.getModificationTime, fs.getAccessTime,
          fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
            "", "", new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath,
        fi.getSymlink))
    fi
  }
}

/** `fs.file.impl`: the stock checksummed local filesystem over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (FileContext): stock `LocalFs`'s
  * checksum layer over [[NioRawLocalFileSystem]]. The overrides are
  * `local.RawLocalFs`'s, whose constructors are package-private, plus
  * `open(Path)`: `FilterFs` hands that one to the raw store, so Spark's
  * checkpoint reads (offsets, commits, state-store deltas) skipped their
  * `.crc`; here it is the checksummed `open(path, bufferSize)`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults(): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}
