package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Deterministic on-disk locations for materialized derived artifacts
  * (ANN indexes, bucketed table copies): keyed by source dir + params
  * + a CONTENT stamp of the source dataset, so a regenerated corpus at
  * the same path rebuilds instead of silently serving a stale
  * artifact, while repeat queries over unchanged data reuse it. This
  * is the 100 TB shape — index/bucket builds are amortized, not
  * per-query work; on a real lakehouse the stamp is the table's
  * snapshot/commit id.
  */
object ArtifactCache {

  /** Single source of truth for the artifact root — shared by [[path]]
    * and [[clearRoot]] so the full-bench clear and the cache writes can
    * never drift to different directories (a drift would silently
    * resurrect the r10 amortization artifact). The root lives under the
    * JVM tmpdir and is machine-shared: concurrent graft processes on
    * one host share (and may race on) it — full-bench runs assume they
    * own the root for the duration.
    */
  private def root: Path =
    Paths.get(s"${sys.props("java.io.tmpdir")}/graft-indexes")

  /** `Files.list` holds an open directory stream until CLOSED, not
    * until GC — and this object runs on the driver once per artifact
    * query, so leaked streams accumulate toward EMFILE in a long-lived
    * session.
    */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator.asScala) finally s.close()
  }

  /** Cache path for `kind` derived from dataset `src` under `params`
    * by the code in this JVM.
    *
    * The content stamp is computed over the data files of the WHOLE
    * TREE (count + total size + max mtime): a parquet dataset path can
    * be a directory — and a PARTITIONED dataset keeps its files under
    * `key=value/` subdirectories, so a top-level-only listing would see
    * zero files and defeat the cache on every call. A
    * missing/unreadable source is a CACHE MISS (unique stamp), never a
    * stable key that would reuse a stale artifact. Cold sibling
    * entries of the same kind (>24 h untouched) are pruned so
    * param/corpus churn cannot accumulate unbounded under tmpdir.
    */
  def path(kind: String, src: Path, params: String): String = path(kind, src, params, codeStamp)

  /** Graft's own jar or class directory, stamped like a source once
    * per JVM: a newer binary never reads an older one's artifacts. */
  private lazy val codeStamp: String =
    try stamp(Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI))
    catch { case _: Exception => miss }

  private[graft] def path(kind: String, src: Path, params: String, code: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$src|$params|${stamp(src)}|$code".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val r = root
    try {
      if (Files.isDirectory(r)) {
        val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
        listDir(r)(_.filter(p => p.getFileName.toString.startsWith(s"$kind-") &&
            !p.getFileName.toString.endsWith(digest) &&
            Files.getLastModifiedTime(p).toMillis < cutoff)
          .toSeq).foreach(deleteRecursively)
      }
    } catch { case _: java.io.IOException => () }  // pruning is best-effort
    s"$r/$kind-$digest"
  }

  private def stamp(src: Path): String =
    try {
      val s = Files.walk(src)   // a regular file walks as itself; a missing one throws
      val files = try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
      if (files.isEmpty) miss
      else s"${files.size}-${files.map(Files.size).sum}-${files.map(Files.getLastModifiedTime(_).toMillis).max}"
    } catch { case _: java.io.IOException => miss }

  private def miss: String = s"miss-${java.util.UUID.randomUUID()}"

  /** Delete the whole artifact root. Full-bench hygiene: a full suite
    * starts from a clean root so every index/bucket build cost lands
    * in the cold time of the query that first needs it, instead of
    * silently vanishing whenever a previous process left artifacts on
    * disk (r10: ~20 s of apparent q198/q78 "speedup" was
    * amortization, with the build cost in no bench row at all).
    * Uses the same [[root]] constant as [[path]] — see its concurrency
    * caveat: this deletes a machine-shared directory.
    */
  def clearRoot(): Unit = deleteRecursively(root)

  private def deleteRecursively(p: Path): Unit = {
    try {
      if (Files.isDirectory(p))
        listDir(p)(_.toSeq).foreach(deleteRecursively)
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () }
  }
}
