package graft.sources

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system with permissions set in
  * the JVM. Without Hadoop's native library, `RawLocalFileSystem`
  * starts a `chmod` process for every file, `.crc` file and directory
  * a write creates; here the same `chmod(2)` is one `unix:mode`
  * attribute write. Every bit of the `FsPermission` is set, the
  * sticky bit included, and symlinks are followed, as `chmod` does. On
  * a platform without the `unix` attribute view Hadoop's own path runs.
  *
  * Everything else — checksums, listing, reads, renames — is Hadoop's.
  * [[graft.Graft.session]] names this class as `fs.file.impl`.
  */
class InProcessLocalFs extends LocalFileSystem(new InProcessLocalFs.Raw)

object InProcessLocalFs {

  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** The raw layer under [[InProcessLocalFs]]: `create` and `mkdirs`
    * with a permission call this `setPermission`. */
  private final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (unixView)
        Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(perm.toShort.toInt))
      else super.setPermission(p, perm)
  }
}
