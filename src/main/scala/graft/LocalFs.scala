package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a child process per file.
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod`
  * through `Shell.execCommand` for every file it creates and every
  * directory it makes (about 3 ms a spawn; a dimension sync spawned 20,
  * a streaming drain 60), and `readlink` for both ends of every
  * `FileContext` rename. This one sets the mode in-process through the
  * JDK's `unix:mode` attribute (`chmod(2)`), with the bits the forked
  * `chmod <4-digit mode>` leaves: a file takes the mode exactly, a
  * directory keeps its set-user-ID and set-group-ID bits (so a warehouse
  * under a setgid directory keeps handing its group down). It answers a
  * link status for a path that is not a symbolic link with its plain
  * status, as Hadoop does once `readlink` prints nothing. It falls back
  * to the inherited code on a store without the `unix` attribute view
  * and for a symbolic link. [[GraftSession.tune]] binds `file:` to it. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    try {
      val st = Files.readAttributes(path, "unix:mode,isDirectory")
      val kept =
        if (st.get("isDirectory").asInstanceOf[Boolean])
          st.get("mode").asInstanceOf[Int] & NoForkRawLocalFileSystem.SetIdBits
        else 0
      Files.setAttribute(path, "unix:mode",
        Integer.valueOf(kept | permission.toShort))
    } catch {
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }
  }
}

private object NoForkRawLocalFileSystem {
  /** 06000: set-user-ID and set-group-ID. */
  val SetIdBits = 0xc00
}

/** `fs.file.impl`: the checksummed `file:` file system over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (streaming
  * checkpoints, state-store deltas, LogTable's consumer marker): Hadoop's
  * `LocalFs` over [[NoForkRawLocalFs]]. `LocalFs` and `RawLocalFs` have
  * package-private constructors, so these mirror them. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))

private[graft] class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
