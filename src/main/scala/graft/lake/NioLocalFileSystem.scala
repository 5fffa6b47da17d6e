package graft.lake

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` FileSystem that never forks a process. Without libhadoop (Spark
  * distributions do not ship it) stock [[RawLocalFileSystem]] runs `chmod`
  * for every file, `.crc` file and directory it creates, and `ls -ld` for
  * every status whose permission is read — which `LocatedFileStatus` does,
  * so every listing pays one fork per entry. Here both are one in-process
  * `java.nio` call. Wrapped in [[LocalFileSystem]], so checksums are kept.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The same for `FileContext`, which resolves `file:` through
  * `fs.AbstractFileSystem.file.impl` rather than `fs.file.impl`: Hadoop's
  * `LocalFs` (checksummed) over a stock [[RawLocalFileSystem]] forks
  * `chmod` on every create and mkdir and `readlink` on every rename — the
  * checkpoint logs of a streaming query write through it each trigger.
  */
final class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `file:` AbstractFileSystem delegating to [[NioRawLocalFileSystem]],
  * as Hadoop's `RawLocalFs` delegates to the stock class.
  */
final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def isValidName(src: String): Boolean = true
}

/** [[RawLocalFileSystem]] with `setPermission`, `getFileStatus`,
  * `getFileLinkStatus`, `getLinkTarget` and `listStatus` done through
  * `java.nio` [[PosixFileAttributes]]. Statuses carry the same fields the
  * stock class loads lazily (length, type,
  * mtime, atime, permission, owner, group, qualified path). POSIX
  * attributes have no sticky bit, so a sticky `setPermission` takes the
  * stock path and a status never reports one.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = status(f)

  /** A symlink's own status (`lstat`, as the native stock path reports it)
    * with its target qualified; anything else is [[getFileStatus]].
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = status(f, LinkOption.NOFOLLOW_LINKS)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The unqualified target, as the stock class returns it. */
  override def getLinkTarget(f: Path): Path = status(f, LinkOption.NOFOLLOW_LINKS).getSymlink

  private def status(f: Path, opts: LinkOption*): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, classOf[PosixFileAttributes], opts: _*)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
    val link = if (a.isSymbolicLink) new Path(Files.readSymbolicLink(file.toPath).toString) else null
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
      FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
      a.owner.getName, a.group.getName, link,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** Entries that vanish between the directory read and their stat are
    * skipped, as the stock listing does.
    */
  override def listStatus(f: Path): Array[FileStatus] = {
    val st = getFileStatus(f)
    if (!st.isDirectory) Array(st)
    else {
      val names = pathToFile(f).list()
      if (names == null) throw new java.io.IOException(s"cannot list directory $f")
      names.flatMap { n =>
        try Some(getFileStatus(new Path(f, new Path(null, null, n))))
        catch { case _: FileNotFoundException => None }
      }
    }
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      // re-wrapped: subclasses (FsCreateModes) override toString
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
}
