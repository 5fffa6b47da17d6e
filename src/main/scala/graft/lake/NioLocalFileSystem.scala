package graft.lake

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` FileSystem that never forks a process. Without libhadoop (Spark
  * distributions do not ship it) stock [[RawLocalFileSystem]] runs `chmod`
  * for every file, `.crc` file and directory it creates, and `ls -ld` for
  * every status whose permission is read — which `LocatedFileStatus` does,
  * so every listing pays one fork per entry. Here both are one in-process
  * `java.nio` call. Wrapped in [[LocalFileSystem]], so checksums are kept.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[RawLocalFileSystem]] with `setPermission`, `getFileStatus` and
  * `listStatus` done through `java.nio` [[PosixFileAttributes]]. Statuses
  * carry the same fields the stock class loads lazily (length, type,
  * mtime, atime, permission, owner, group, qualified path). POSIX
  * attributes have no sticky bit, so a sticky `setPermission` takes the
  * stock path and a status never reports one.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
      FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
      a.owner.getName, a.group.getName,
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
