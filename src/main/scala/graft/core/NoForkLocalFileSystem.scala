package graft.core

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
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
  * session writes the same files with the same bits, only slower. */
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
  }
}
