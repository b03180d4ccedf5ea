package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two shell fallbacks done in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` forks `chmod` for
  * every file and directory it creates (`setPermission`) and `readlink` for
  * both sides of every `FileContext.rename` and their `.crc`s
  * (`getFileLinkStatus`). Every micro-batch's offset-log, commit-log and
  * state-store delta is a create plus a rename, so those forks — thousands
  * per minute of a 4-query pipeline — set the checkpoint-commit latency.
  * Each override returns exactly what the shell route returns.
  *
  * `GraftSession` registers [[NioLocalFileSystem]] as `fs.file.impl`
  * (the `FileSystem` route: sinks, sources, Parquet) and [[NioLocalFs]] as
  * `fs.AbstractFileSystem.file.impl` (the `FileContext` route, which
  * Spark's checkpoint file manager takes for offsets, commits and state).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** The nine rwx bits via NIO. A sticky bit, which NIO cannot set, and a
    * directory carrying setuid/setgid, which `chmod 0nnn` keeps and NIO
    * would clear, go to the shell as before. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    val file = pathToFile(p).toPath
    val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    if ((mode & Sticky) != 0 || ((current & FileType) == Dir && (current & SetIds) != 0))
      super.setPermission(p, permission)
    else {
      val perms = attribute.PosixFilePermission.values.zipWithIndex // OWNER_READ .. OTHERS_EXECUTE
        .collect { case (perm, i) if (mode & (OwnerRead >> i)) != 0 => perm }
      Files.setPosixFilePermissions(file, java.util.Set.of(perms.toSeq: _*))
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val status = linkStatus(f)
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's shell-route link status, with `readlink` read through NIO.
    * Like Hadoop it looks the link up at `f.toString`, so a scheme-qualified
    * path never reads as a link. */
  private def linkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target =
      try if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim else ""
      catch { case _: IOException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty => // dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

private object NioRawLocalFileSystem {
  // st_mode bits (octal 0400, 01000, 06000, 0170000, 040000)
  val OwnerRead = 0x100
  val Sticky = 0x200
  val SetIds = 0xc00
  val FileType = 0xf000
  val Dir = 0x4000
}

/** The `FileSystem` route: checksummed, like Hadoop's `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` route: Hadoop's `LocalFs` over [[NioRawLocalFileSystem]].
  * Hadoop's `RawLocalFs` cannot take another `FileSystem` (its constructors
  * are package-private), so [[NioRawLocalFs]] restates its four overrides.
  * Hadoop instantiates the class through its `(URI, Configuration)`
  * constructor; like `LocalFs`, it ignores the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

private[sources] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("Hadoop deprecates the no-path form", "3.0")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
