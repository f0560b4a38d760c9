package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The nio-backed `file:` filesystem against Hadoop's stock classes: the
  * same status fields, the same modes on created files, the same checksum
  * behaviour, and an installer that wins over a cached stock instance. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val conf = new Configuration()
  private val root = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(root, conf); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  /** Every field a status carries (FileStatus.equals compares the path
    * only). */
  private def fields(st: FileStatus) =
    (st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, st.getPermission,
      st.getOwner, st.getGroup, if (st.isSymlink) st.getSymlink else null,
      st.getPath)

  private def sameStatus(p: Path): Unit = {
    assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)))
    assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)))
  }

  private def tmpDir(): java.nio.file.Path = Files.createTempDirectory("graft-localfs")

  test("file, directory and chmod'ed statuses equal the stock ones") {
    val dir = tmpDir()
    val file = Files.write(dir.resolve("f.txt"), "hello".getBytes("UTF-8"))
    sameStatus(new Path(file.toString))
    sameStatus(new Path(dir.toString))
    sameStatus(new Path(s"file:$file"))
    val p = new Path(file.toString)
    nio.setPermission(p, new FsPermission("640"))
    assert(nio.getFileStatus(p).getPermission == new FsPermission("640"))
    sameStatus(p)
    stock.setPermission(p, new FsPermission("604"))
    sameStatus(p)
    // a sticky mode takes the stock chmod path; the status shows the bit
    val sticky = new Path(Files.createDirectory(dir.resolve("sticky")).toString)
    nio.setPermission(sticky, new FsPermission(0x3ff.toShort)) // 01777
    assert(nio.getFileStatus(sticky).getPermission.getStickyBit)
    sameStatus(sticky)
  }

  test("symlink: link status and followed status equal the stock ones") {
    val dir = tmpDir()
    Files.write(dir.resolve("target.txt"), "0123456789".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), Paths.get("target.txt"))
    val p = new Path(link.toString)
    sameStatus(p)
    assert(nio.getFileLinkStatus(p).isSymlink)
    assert(nio.getFileLinkStatus(p).getSymlink == new Path(s"file:$dir/target.txt"))
    assert(!nio.getFileStatus(p).isSymlink && nio.getFileStatus(p).getLen == 10)
    assert(nio.getLinkTarget(p) == stock.getLinkTarget(p))
    // dangling: the link has a status, following it does not
    val dangling = new Path(Files.createSymbolicLink(dir.resolve("dangling"),
      Paths.get("absent")).toString)
    assert(fields(nio.getFileLinkStatus(dangling)) == fields(stock.getFileLinkStatus(dangling)))
    intercept[FileNotFoundException](nio.getFileStatus(dangling))
  }

  test("missing path: FileNotFoundException from both status calls") {
    val p = new Path(tmpDir().resolve("absent").toString)
    for (fs <- Seq(stock, nio)) {
      intercept[FileNotFoundException](fs.getFileStatus(p))
      intercept[FileNotFoundException](fs.getFileLinkStatus(p))
    }
  }

  test("created files and dirs get the umask'd default mode, as stock") {
    val dir = tmpDir()
    val umask = FsPermission.getUMask(conf)
    def modes(fs: FileSystem, tag: String) = {
      val f = new Path(s"$dir/$tag/sub/data")
      fs.create(f, true).close()
      val crc = new Path(s"$dir/$tag/sub/.data.crc")
      Seq(f, crc, f.getParent).map(p => fs.getFileStatus(p).getPermission)
    }
    val got = modes(init(new NioLocalFileSystem), "nio")
    assert(got == modes(init(new LocalFileSystem), "stock"))
    assert(got == Seq(FsPermission.getFileDefault.applyUMask(umask),
      FsPermission.getFileDefault.applyUMask(umask),
      FsPermission.getDirDefault.applyUMask(umask)))
  }

  test("a flipped data byte still fails the checksum on read") {
    val fs = init(new NioLocalFileSystem)
    val p = new Path(s"${tmpDir()}/data")
    val out = fs.create(p, true)
    out.write(Array.fill[Byte](4096)(7))
    out.close()
    val raf = new java.io.RandomAccessFile(p.toUri.getPath, "rw")
    try { raf.seek(100); raf.write(8) } finally raf.close()
    intercept[ChecksumException] {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
  }

  test("FileContext rename with OVERWRITE replaces an existing destination") {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(root, c)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val dir = tmpDir()
    val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    write(dst, "old")
    write(src, "new")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "new") finally in.close()
  }

  test("install replaces a cached stock file: FileSystem; a second install is a no-op") {
    val hconf = spark.sparkContext.hadoopConfiguration
    // put a stock instance in the JVM-wide cache
    FileSystem.get(root, hconf).close()
    val stockConf = new Configuration(hconf)
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val cachedStock = FileSystem.get(root, stockConf)
    assert(!cachedStock.isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, new Configuration()) eq cachedStock)

    graft.io.LocalFs.install(spark)
    val installed = FileSystem.get(root, hconf)
    assert(installed.isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, new Configuration()) eq installed)
    assert(FileContext.getFileContext(root, hconf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
    // FileContext is not cached: only configurations carrying the key
    // resolve to the nio class
    assert(classOf[LocalFs].isInstance(
      FileContext.getFileContext(root, new Configuration()).getDefaultFileSystem))

    graft.io.LocalFs.install(spark)
    assert(FileSystem.get(root, hconf) eq installed)
  }
}
