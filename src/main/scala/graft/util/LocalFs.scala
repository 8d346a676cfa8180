package graft.util

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

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
  * `FileContext`) pay both. Each fork+exec costs milliseconds from a
  * large-heap JVM; the `java.nio.file` calls below cost microseconds.
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
}

object NioRawLocalFileSystem {
  private val Unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

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
  * (a `ChecksumFs` over `RawLocalFs`) with the raw filesystem swapped. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

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
