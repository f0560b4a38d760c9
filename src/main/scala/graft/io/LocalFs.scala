package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, Path => JPath}
import java.nio.file.attribute.{FileTime, PosixFilePermissions, UserPrincipal}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FileSystem, FSLinkResolver, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` with its per-file process forks replaced
  * by `java.nio` calls. Without `libhadoop.so` the stock class runs
  * `chmod` for every permission it sets (each file create, twice with the
  * `.crc` sidecar, and each new directory) and `readlink` + `ls -ld` for
  * every link status and every permission-bearing status; a fork costs
  * 5-30 ms, the nio call tens of microseconds. Everything else — the
  * streams, renames, deletes, the bytes on disk — is the stock code.
  *
  * Statuses carry the same fields as the stock ones: length, directory
  * flag, replication 1, the configured block size, mtime/atime in
  * milliseconds, the permission `ls -ld` shows (the 9 rwx bits plus the
  * sticky bit), owner, group, symlink target and path. One status is one
  * `stat` call, cheaper than the five the stock class makes before it
  * forks for the permission. Symlinks are found from the file's own
  * attributes, so a qualified `file:` path to a link reads as a link too
  * (the stock `readlink` call misses those). */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** chmod through nio for a plain rwx mode. A sticky mode, or a target
    * carrying setuid/setgid/sticky (which `chmod NNNN` keeps on
    * directories), goes to the stock shell path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & Special) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file,
      PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = attributes(file.toPath, follow = true)
      .getOrElse(throw new FileNotFoundException(s"File $f does not exist"))
    status(a, new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** The link itself when `f` is a symlink (length, times and permission
    * of its target, path `f` as given, qualified target), else
    * [[getFileStatus]]. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The unqualified target of a symlink; the stock method would fork
    * `readlink` and `ls`. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    attributes(file, follow = false) match {
      case Some(a) if a.isLink =>
        val target = new Path(Files.readSymbolicLink(file).toString)
        attributes(file, follow = true) match {
          case Some(t) =>
            new FileStatus(t.size, false, 1, getDefaultBlockSize(f), t.mtime,
              t.atime, t.permission, t.owner, t.group, target, f)
          case None => // dangling link
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
              "", "", target, f)
        }
      case _ => getFileStatus(f)
    }
  }

  private def status(a: Attrs, path: Path): FileStatus =
    new FileStatus(a.size, a.isDir, 1, getDefaultBlockSize(path), a.mtime,
      a.atime, a.permission, a.owner, a.group, null, path)
}

private object NioRawLocalFileSystem {
  private val Fields =
    "unix:mode,size,lastModifiedTime,lastAccessTime,uid,gid,isDirectory,isSymbolicLink"

  /** One `lstat`/`stat` worth of the fields a status needs. */
  final case class Attrs(mode: Int, size: Long, mtime: Long, atime: Long,
                         owner: String, group: String, isDir: Boolean,
                         isLink: Boolean) {
    // the bits `ls -ld` shows: rwx plus sticky (setuid/setgid only
    // change how an x bit prints)
    def permission: FsPermission = new FsPermission((mode & 0x3ff).toShort)
  }

  /** ("owner" | "group", id) -> name. The passwd/group lookup costs more
    * than the stat itself, so each id is resolved once per JVM. */
  private val names = new ConcurrentHashMap[(String, Int), String]

  def attributes(p: JPath, follow: Boolean): Option[Attrs] = {
    val opts = if (follow) Seq.empty[LinkOption] else Seq(LinkOption.NOFOLLOW_LINKS)
    try {
      val m = Files.readAttributes(p, Fields, opts: _*)
      def millis(k: String) = m.get(k).asInstanceOf[FileTime].toMillis
      def name(kind: String, id: String) =
        names.computeIfAbsent((kind, m.get(id).asInstanceOf[Int]), _ =>
          Files.getAttribute(p, s"unix:$kind", opts: _*)
            .asInstanceOf[UserPrincipal].getName)
      Some(Attrs(m.get("mode").asInstanceOf[Int], m.get("size").asInstanceOf[Long],
        millis("lastModifiedTime"), millis("lastAccessTime"), name("owner", "uid"),
        name("group", "gid"), m.get("isDirectory").asInstanceOf[Boolean],
        m.get("isSymbolicLink").asInstanceOf[Boolean]))
    } catch { case _: NoSuchFileException => None }
  }

  /** setuid, setgid and sticky: the `st_mode` bits above rwx that
    * `chmod` keeps or sets on its own terms (the file-type bits lie above
    * them). */
  val Special = 0xe00
}

/** The checksummed `file:` FileSystem (`.crc` sidecars kept) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw `file:` filesystem over [[NioRawLocalFileSystem]];
  * the overrides are those of Hadoop's `RawLocalFs`, whose constructors
  * are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
    "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s checksummed `file:` filesystem (Hadoop's `LocalFs`)
  * over [[NioRawLocalFs]]: what `GenDir`'s pointer renames and Spark's
  * streaming checkpoint manager resolve `file:` paths to. */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(uri, conf))

object LocalFs {

  /** Make the nio classes the `file:` FileSystem and FileContext of this
    * session's Hadoop configuration. Hadoop caches one FileSystem per
    * scheme JVM-wide, keyed without the class, so a `file:` instance of
    * another class already in the cache is closed (which evicts it) and
    * the next lookup builds the nio one. Idempotent. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val cached = FileSystem.get(URI.create("file:///"), conf)
    if (!cached.isInstanceOf[NioLocalFileSystem]) cached.close()
  }
}
