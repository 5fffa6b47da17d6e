package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs}

/** The fork-free `file:` FileSystem engine sessions bind: every status it
  * produces must equal what stock `RawLocalFileSystem` (which forks `ls`
  * and `chmod`) reports for the same path, and it must keep the checksum
  * layer's behavior.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "localfs-spec")

  private def stock(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), spark.sessionState.newHadoopConf())
    fs
  }

  private def assertSame(a: FileStatus, b: FileStatus): Unit = {
    assert(a.getPath == b.getPath)
    assert(a.getPermission == b.getPermission, a.getPath)
    assert(a.getLen == b.getLen, a.getPath)
    assert(a.isDirectory == b.isDirectory, a.getPath)
    assert(a.getModificationTime == b.getModificationTime, a.getPath)
    assert(a.getOwner == b.getOwner && a.getGroup == b.getGroup, a.getPath)
  }

  test("engine sessions bind it for file: paths") {
    val p = new Path(Files.createTempDirectory("graft-localfs-").toString)
    assert(p.getFileSystem(spark.sessionState.newHadoopConf()).isInstanceOf[NioLocalFileSystem])
  }

  test("file and directory statuses match stock RawLocalFileSystem, umask applied") {
    val conf = spark.sessionState.newHadoopConf()
    val ours = FileSystem.get(URI.create("file:///"), conf)
    assert(ours.isInstanceOf[NioLocalFileSystem])
    val ref = stock()
    val root = new Path(Files.createTempDirectory("graft-localfs-").toString)
    val dir = new Path(root, "a/b")
    val priv = new Path(root, "private")
    assert(ours.mkdirs(dir) && ours.mkdirs(priv, new FsPermission("700")))
    val file = new Path(dir, "f.bin")
    val out = ours.create(file, true)
    try out.write(Array.fill[Byte](1234)(7)) finally out.close()
    val umask = FsPermission.getUMask(conf)
    assert(ours.getFileStatus(dir).getPermission == FsPermission.getDirDefault.applyUMask(umask))
    assert(ours.getFileStatus(priv).getPermission == new FsPermission("700").applyUMask(umask))
    assert(ours.getFileStatus(file).getPermission == FsPermission.getFileDefault.applyUMask(umask))
    ours.setPermission(file, new FsPermission("640"))
    assert(ours.getFileStatus(file).getLen == 1234L)
    Seq(root, dir, priv, file).foreach(p => assertSame(ours.getFileStatus(p), ref.getFileStatus(p)))
    assert(ref.getFileStatus(file).getPermission == new FsPermission("640"))

    // the raw listing sees the checksum file, and matches stock entry by entry
    val raw = new NioRawLocalFileSystem
    raw.initialize(URI.create("file:///"), conf)
    val rawList = raw.listStatus(dir).sortBy(_.getPath.getName)
    assert(rawList.map(_.getPath.getName).toSeq == Seq(".f.bin.crc", "f.bin"))
    rawList.zip(ref.listStatus(dir).sortBy(_.getPath.getName)).foreach { case (a, b) => assertSame(a, b) }
    // ... and the checksummed FileSystem hides it, in plain and located listings
    assert(ours.listStatus(dir).map(_.getPath.getName).toSeq == Seq("f.bin"))
    val located = ours.listFiles(root, true)
    val names = Iterator.continually(located).takeWhile(_.hasNext).map(_.next()).toSeq
    assert(names.map(_.getPath.getName) == Seq("f.bin"))
    assertSame(names.head, ref.getFileStatus(file))
    // a listing of a file is that file's status
    assertSame(raw.listStatus(file).head, ref.getFileStatus(file))
  }

  test("a missing path throws FileNotFoundException") {
    val conf = spark.sessionState.newHadoopConf()
    val ours = FileSystem.get(URI.create("file:///"), conf)
    val missing = new Path(Files.createTempDirectory("graft-localfs-").toString, "nope")
    intercept[FileNotFoundException](ours.getFileStatus(missing))
    intercept[FileNotFoundException](ours.listStatus(missing))
    intercept[FileNotFoundException](ours.setPermission(missing, new FsPermission("644")))
    assert(!ours.exists(missing))
  }

  test("engine sessions bind it for FileContext too: file: creates and renames through the NIO classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    val afs = fc.getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
    // a checkpoint-log write: create a temp, rename it over the target
    val dir = new Path(Files.createTempDirectory("graft-localfs-").toString)
    val (tmp, dst) = (new Path(dir, ".0.tmp"), new Path(dir, "0"))
    Seq("v1", "v2").foreach { v =>
      val out = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
      try out.write(v.getBytes("UTF-8")) finally out.close()
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    }
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(dst.toString)), "UTF-8") == "v2")
    assert(!fc.util.exists(tmp))
  }

  test("getFileLinkStatus: a file or directory is its status, a symlink is the link itself") {
    val conf = spark.sessionState.newHadoopConf()
    val ours = new NioRawLocalFileSystem
    ours.initialize(URI.create("file:///"), conf)
    val ref = stock()
    val root = Files.createTempDirectory("graft-localfs-")
    val file = Files.write(root.resolve("f.bin"), Array.fill[Byte](321)(1))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("ln"), file)
    val dangling = Files.createSymbolicLink(root.resolve("gone"), root.resolve("nope"))
    // unqualified: the stock class reads links only through a plain path
    def p(x: java.nio.file.Path) = new Path(x.toString)
    Seq(file, dir).foreach { x =>
      val st = ours.getFileLinkStatus(p(x))
      assert(!st.isSymlink)
      assertSame(st, ref.getFileLinkStatus(p(x)))
    }
    Seq(link, dangling).foreach { x =>
      val st = ours.getFileLinkStatus(p(x))
      val want = ref.getFileLinkStatus(p(x))
      assert(st.isSymlink && !st.isDirectory && want.isSymlink, x)
      assert(st.getPath == ref.makeQualified(want.getPath) && st.getSymlink == want.getSymlink, x)
      assert(st.getLen == Files.readAttributes(x, classOf[java.nio.file.attribute.BasicFileAttributes],
        java.nio.file.LinkOption.NOFOLLOW_LINKS).size, x)
      assert(ours.getLinkTarget(p(x)) == ref.getLinkTarget(p(x)), x)
    }
    // through FileContext, the link target comes back qualified
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getFileLinkStatus(p(link)).getSymlink == ref.makeQualified(p(file)))
    intercept[FileNotFoundException](ours.getFileLinkStatus(p(root.resolve("nope"))))
  }
}
