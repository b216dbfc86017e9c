package graft

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem (installed by [[Sessions]]): Hadoop's
  * checksummed [[LocalFileSystem]], `.crc` sidecars and all, over a raw
  * layer that sets a permission with a `stat(2)` and a `chmod(2)`.
  *
  * Without the native `libhadoop` the stock `RawLocalFileSystem` forks a
  * `chmod` process for every `setPermission`, and a checksummed `create`
  * reaches it four times (data file and `.crc`, at open and again after),
  * a `mkdirs` once per directory made: milliseconds of fork per file
  * written, on a path whose whole job is writing files. The `unix:mode`
  * attribute carries the sticky bit, so every mode takes the syscall.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  private val TypeMask = 0xf000    // S_IFMT
  private val Directory = 0x4000   // S_IFDIR
  private val SetIdBits = 0xc00    // S_ISUID | S_ISGID

  class Raw extends RawLocalFileSystem {
    /** Same resulting mode as the stock `chmod %04o`: GNU chmod keeps a
      * directory's setuid/setgid bits under a 4-digit numeric mode (a
      * directory made inside a setgid one inherits setgid), so they are
      * kept here too. A missing path throws `NoSuchFileException`. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val kept = if ((mode & TypeMask) == Directory) mode & SetIdBits else 0
      Files.setAttribute(file, "unix:mode", Int.box((permission.toShort & 0xfff) | kept))
    }
  }
}

/** [[GraftLocalFileSystem]] for Hadoop's `FileContext` API (installed by
  * [[Sessions]] as `file:`'s `AbstractFileSystem`), which Structured
  * Streaming writes its checkpoints through. The stock `LocalFs` is the
  * same checksummed layer over a delegate to its own
  * `RawLocalFileSystem`, which forks `chmod` for every checkpoint file,
  * its `.crc` and each directory made. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.Raw(uri, conf))

object GraftLocalFs {
  /** `RawLocalFs` over [[GraftLocalFileSystem.Raw]]. */
  class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(uri,
      new GraftLocalFileSystem.Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

/** Directory walks over Hadoop's FileSystem API for the lake's own
  * bookkeeping (publish, compaction, commit listings).
  *
  * They use plain `listStatus`, never `listFiles`/`listLocatedStatus`:
  * those build a `LocatedFileStatus` per entry, which on the local FS
  * loads the entry's owner and permissions (an `ls -ld` fork per entry
  * without `libhadoop`) and fails on an entry deleted under the walk.
  */
private[graft] object FsWalk {

  /** Directories a Spark reader of the table skips too: hidden (`.`) and
    * metadata (`_`, unless a `k=v` partition) dirs — staging, committer
    * and log dirs. */
  private def skipped(dirName: String): Boolean =
    dirName.startsWith(".") || (dirName.startsWith("_") && !dirName.contains("="))

  /** Every file under `dir` (recursive, so hive partition dirs are
    * covered), not descending into [[skipped]] dirs. A missing `dir`
    * throws `FileNotFoundException`; a subdirectory that vanished
    * mid-walk (another writer's, deleted under it) reads as empty. */
  def files(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (!st.isDirectory) Seq(st)
      else if (skipped(st.getPath.getName)) Nil
      else try files(fs, st.getPath)
        catch { case _: java.io.FileNotFoundException => Nil }
    }
}
