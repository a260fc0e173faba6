package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files}
import java.nio.file.attribute.{FileTime, PosixFileAttributes}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without child processes. Without `libhadoop`,
  * [[RawLocalFileSystem]] runs `chmod` for every permission it sets
  * (each `create`/`mkdirs` with a permission, `.crc` files included),
  * `ls -ld` for the permission, owner or group of a status and `readlink`
  * for a link status (FileContext's atomic rename asks for both sides').
  * Each is a `java.nio.file` call here, with the parent's results: the
  * same mode bits, owner and group names, times, lengths, link targets
  * and `FileNotFoundException`s.
  *
  * [[LocalFs.hadoopConf]] routes both Hadoop APIs here: `FileSystem`
  * (file sinks and sources) and `FileContext` (Spark's atomic-rename
  * checkpoint manager). Both keep the CRC checksum layer. */
object LocalFs {
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** `unix:mode` carries the sticky and set-id bits that
    * `PosixFileAttributes` drops. Without the view (a non-POSIX store)
    * the parent's methods answer. */
  private[io] val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod 0755`-style: a 4-digit octal mode keeps a directory's
    * set-uid/set-gid bits and clears a file's. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!LocalFs.unixView) super.setPermission(p, permission)
    else {
      val path = pathToFile(p).toPath
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      val keep = if ((mode & FileType) == Directory) mode & SetId else 0
      Files.setAttribute(path, "unix:mode",
        Integer.valueOf(permission.toShort & Shown | keep))
    }

  override def getFileStatus(f: Path): FileStatus =
    if (!LocalFs.unixView) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      // like `File.exists`, any failed stat (missing, ENOTDIR, EACCES)
      // reads as a missing file
      val a = try Files.readAttributes(file.toPath, Attrs)
        catch { case e: FileSystemException =>
          throw new FileNotFoundException(s"File $f does not exist")
            .initCause(e) }
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      val owner = Owners.computeIfAbsent(a.get("uid").asInstanceOf[Integer],
        _ => Files.getOwner(file.toPath).getName)
      val group = Groups.computeIfAbsent(a.get("gid").asInstanceOf[Integer],
        _ => Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
          .group.getName)
      new FileStatus(a.get("size").asInstanceOf[Long],
        a.get("isDirectory").asInstanceOf[Boolean], 1,
        getDefaultBlockSize(f), millis("lastModifiedTime"),
        millis("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & Shown).toShort),
        owner, group,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  /** As the parent's: the link is read at `f.toString`, so a qualified
    * `file:` path reads as its target; a link reports its target's
    * attributes with `isDirectory` false, a dangling one zeros. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    if (!LocalFs.unixView) super.getFileLinkStatus(f)
    else if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      val st = try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
          t.getModificationTime, t.getAccessTime, t.getPermission, t.getOwner,
          t.getGroup, target, f)
      } catch { case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          target, f)
      }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      st
    }
  }
}

private object NioRawLocalFileSystem {
  val Attrs = "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,uid,gid"
  /** User and group names by id, looked up once per id, as the native
    * `NativeIO.POSIX` caches them: a lookup per status made a listing of
    * 500 files twice as slow as the parent's, which reads no owner
    * unless asked. */
  val Owners, Groups = new ConcurrentHashMap[Integer, String]
  /** The bits `ls -ld` shows and `FsPermission` holds: rwx and sticky
    * (octal 01777). */
  val Shown = 0x3ff
  /** Set-uid and set-gid (octal 06000). */
  val SetId = 0xc00
  /** `S_IFMT` and `S_IFDIR` (octal 0170000 and 0040000). */
  val FileType = 0xf000
  val Directory = 0x4000
}

/** `fs.file.impl`: the checksummed local file system over the raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, for FileContext. The stock `LocalFs`
  * builds its raw layer with `new RawLocalFileSystem()`, which
  * `fs.file.impl` does not reach. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** The stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file",
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
