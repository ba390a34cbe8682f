package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system, minus its child processes. Without native
  * Hadoop, `RawLocalFileSystem` sets a permission by running `chmod`, once
  * per file and directory it creates, and reads a link status by running
  * `readlink`, which every `FileContext` rename does (each streaming
  * checkpoint commit). Here a permission without special bits is set
  * through java.nio, and a path that is not a symbolic link gets its plain
  * status. Everything else, a sticky-bit mode and a real symlink included,
  * is Hadoop's own code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // java.nio has no sticky, setuid or setgid bit
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = PosixFilePermission.values() // owner rwx, group rwx, others rwx
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.indices.foreach(i => if ((mode >> (8 - i) & 1) == 1) perms.add(bits(i)))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of [[NioRawLocalFileSystem]], with the overrides
  * of Hadoop's `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors
  * are package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed `LocalFs` over
  * [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object LocalFileSystems {

  /** (key, Hadoop's default values, graft's class) for both `file:` APIs. */
  private val Impls = Seq(
    ("fs.file.impl", Set("", classOf[LocalFileSystem].getName),
      classOf[NioLocalFileSystem]),
    ("fs.AbstractFileSystem.file.impl",
      Set(classOf[org.apache.hadoop.fs.local.LocalFs].getName), classOf[NioLocalFs]))

  /** Points each `file:` key of `conf` that still holds Hadoop's default
    * at graft's class; a value the user set is left alone. */
  def install(conf: Configuration): Unit =
    Impls.foreach { case (key, hadoops, ours) =>
      if (hadoops(Option(conf.get(key)).getOrElse(""))) conf.set(key, ours.getName)
    }
}
