package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files

/** The local file system without child processes. Without `libhadoop`,
  * Hadoop's `RawLocalFileSystem` runs `chmod` for every file and
  * directory it creates and `readlink` for every link-status lookup (a
  * FileContext rename makes four per file), so each checkpoint, log and
  * sink file forked several processes. `Engine.session` installs these
  * classes for `file:` paths through [[LocalFs.SessionConf]]. */
object LocalFs {
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}

/** `RawLocalFileSystem` with its two forking methods done in-process. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits `chmod %04o` would set (symbolic links followed). */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort & 0xfff)): Unit // 07777

  /** The stock (deprecated) lookup, which reads the link of
    * `new File(f.toString)`: a `file:` URI string names no file, so only
    * a bare path can come back as a symlink. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      try if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim else ""
      catch { case _: IOException => "" }
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        // a dangling link
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]] (its
  * constructors are package-private). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as the overridden method", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // the OS validates names, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs`, which ignores
  * the URI it is given. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
