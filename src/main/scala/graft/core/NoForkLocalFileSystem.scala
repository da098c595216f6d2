package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every [[graft.Sessions.local]] session: a
  * stock checksummed [[LocalFileSystem]] (`.crc` sidecars written and
  * verified as before) whose raw layer sets permissions in-process.
  *
  * Without native `libhadoop`, [[RawLocalFileSystem.setPermission]] runs
  * `chmod` in a child process, and Hadoop calls it for every file it
  * creates (data and `.crc` alike) and every directory it makes: a
  * snapshot commit or a partitioned write forks hundreds of times. Here
  * the same mode is one `chmod(2)` through `java.nio`. The sticky bit, and
  * any platform without the `unix` attribute view, take Hadoop's own path.
  *
  * The engine does not depend on this class for correctness: a vanilla
  * session writes the same files with the same bits, only slower.
  * [[NoForkLocalFileSystem.Fs]] is the same stack for `FileContext`, which
  * Structured Streaming's checkpoints write through. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

object NoForkLocalFileSystem {
  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // st_mode masks (Scala has no octal literals)
  private val TypeMask = 0xf000 // 0170000 S_IFMT
  private val Dir = 0x4000      // 0040000 S_IFDIR
  private val SetIds = 0xc00    // 06000 S_ISUID | S_ISGID
  private val Rwx = 0x1ff       // 0777

  class Raw extends RawLocalFileSystem {
    /** `chmod <octal>` semantics: the `rwx` bits are set exactly, and a
      * directory keeps its setuid/setgid bits (a four-digit octal mode
      * does not clear them on a directory). */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !unixView)
        super.setPermission(p, permission)
      else {
        val f = pathToFile(p).toPath
        val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        val kept = if ((old & TypeMask) == Dir) old & SetIds else 0
        Files.setAttribute(f, "unix:mode", kept | (permission.toShort & Rwx))
      }

    /** Without native `libhadoop`, Hadoop learns whether a path is a
      * symlink by running `readlink` in a child process, and `FileContext`
      * asks on every rename (each checkpoint commit). A path that is not a
      * symlink is its own link status; a symlink takes Hadoop's path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `file:` `AbstractFileSystem` behind `FileContext` (key
    * `fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` stack, a
    * [[ChecksumFs]] over the raw filesystem, with [[Raw]] as the raw
    * layer. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** Hadoop's `RawLocalFs` over [[Raw]]. */
  private class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
