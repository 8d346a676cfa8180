package graft.util

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}

import scala.annotation.unused
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without process launches.
  *
  * Without libhadoop (the binary Spark distribution ships none), Hadoop's
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates with a permission, and `readlink` for every
  * `getFileLinkStatus`, which `FileContext` calls on both sides of each
  * rename. A parquet commit pays the first; Spark's streaming metadata,
  * offsets, commits and state-store deltas (all written through
  * `FileContext`) pay both. Its file statuses fork `ls -ld` the first
  * time anything asks for their permission, owner or group, which
  * `FileSystem.listFiles` does for every file it lists. Each fork+exec
  * costs milliseconds from a large-heap JVM; the `java.nio.file` calls
  * below cost microseconds.
  *
  * Both are registered for the `file` scheme in `core-site.xml` (Hadoop's
  * default resource, read by every `Configuration`): `fs.file.impl` for
  * `FileSystem` users and `fs.AbstractFileSystem.file.impl` for
  * `FileContext` users. A `core-site.xml` earlier on the classpath
  * shadows that one and gets Hadoop's own classes back. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** The nine mode bits, set with `chmod(2)` in-process. Hadoop's path
    * runs `chmod %04o`, which also sets the sticky bit and keeps a
    * directory's setuid/setgid bits; those cases, and a store without
    * POSIX modes, still take it. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!Unix || permission.getStickyBit || keepsSetIdBits(file)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posixBits(permission.toShort))
  }

  /** Hadoop's path runs `readlink` on `new File(f.toString)` and returns
    * `getFileStatus(f)` when that names no symlink, which it never does
    * for a qualified `file:` path (the relative file `file:/...` does not
    * exist). The symlink test is now a `lstat`; a real symlink still
    * takes Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (isSymlink(f)) super.getFileLinkStatus(f) else getFileStatus(f)

  /** Hadoop's status with every field read by one `lstat` in-process:
    * the mode's nine bits plus the sticky bit (what Hadoop parses out of
    * `ls -ld`), and the owner and group names. A symlink, which Hadoop
    * describes by its target's size and type but its own mode and owner,
    * and a store without the `unix` view still take Hadoop's path. */
  override def getFileStatus(f: Path): FileStatus =
    if (!Unix) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      val attrs =
        try Files.readAttributes(file.toPath, StatAttributes, LinkOption.NOFOLLOW_LINKS)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
      if (attrs.get("isSymbolicLink") == true) super.getFileStatus(f)
      else {
        def millis(k: String) = attrs.get(k).asInstanceOf[FileTime].toMillis
        def name(k: String) = attrs.get(k).asInstanceOf[UserPrincipal].getName
        val mode = attrs.get("mode").asInstanceOf[Integer].intValue
        new FileStatus(attrs.get("size").asInstanceOf[java.lang.Long], attrs.get("isDirectory") == true,
          1, getDefaultBlockSize(f), millis("lastModifiedTime"), millis("lastAccessTime"),
          new FsPermission((mode & 0x3ff).toShort), name("owner"), name("group"),
          new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
      }
    }

  /** Hadoop lists a directory through [[getFileStatus]] but builds a
    * file's own status directly; both go through it here. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (Unix && pathToFile(f).isFile) Array(getFileStatus(f)) else super.listStatus(f)
}

object NioRawLocalFileSystem {
  private val Unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val StatAttributes =
    "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory,isSymbolicLink"

  // PosixFilePermission's declaration order is OWNER_READ (0400) down to
  // OTHERS_EXECUTE (0001)
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }.toSet.asJava

  /** A directory with setuid or setgid set: `chmod` with four octal
    * digits keeps those bits, `chmod(2)` with the nine bits clears them. */
  private def keepsSetIdBits(file: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Integer].intValue
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
  }

  private def isSymlink(f: Path): Boolean =
    try Files.isSymbolicLink(new File(f.toString).toPath)
    catch { case _: InvalidPathException => true }
}

/** [[NioRawLocalFileSystem]] under Hadoop's checksummed `LocalFileSystem`:
  * what `FileSystem.get(file:///)` and `FileSystem.getLocal` return. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] for `FileContext`: Hadoop's `LocalFs`
  * (a `ChecksumFs` over `RawLocalFs`) with the raw filesystem swapped.
  * `AbstractFileSystem.get` constructs it reflectively with the
  * `(URI, Configuration)` signature; the raw filesystem fixes its own
  * URI (`file:///`). */
class NioLocalFs(@unused uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]: same URI, default port, server defaults
  * and name check. */
private[util] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
