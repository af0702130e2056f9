package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Binary-document acquisition, the engine-side form of the
  * reference's `get_pdf_content` download UDF
  * (`01-download-pdfs.py:89-143`): GET a url, persist the bytes,
  * return the filename — null on any failure (`:118-120`), skip work
  * already done (`:100-101`).
  *
  * Behind a trait so tests use a deterministic local implementation
  * and a real HTTP client is a drop-in (SURVEY.md §7.1). Implementers
  * must be idempotent: Spark may re-run tasks (retries/speculation),
  * so fetch-into-place must tolerate re-execution — same contract the
  * reference's exists-check provides.
  */
trait DocumentFetcher extends Serializable {
  /** Fetch `url`, persist under `destFile`; return byte count, None on failure. */
  def fetch(url: String, destFile: String): Option[Long]

  /** Atomic publish of a fully-written temp file. Two concurrent
    * tasks (speculation/retry) can race here: the loser's ATOMIC_MOVE
    * throws FileAlreadyExistsException even though the destination now
    * holds valid bytes — that is a SUCCESS (the winner published), not
    * a failed download, so swallow it and let the caller stat `dest`.
    */
  protected final def moveIntoPlace(tmp: java.nio.file.Path, dest: java.nio.file.Path): Unit =
    try Files.move(tmp, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException if Files.exists(dest) => ()
    }
}

/** Local-filesystem fetcher: "url" is a source path. Deterministic,
  * no network — the test stand-in for the HTTP GET at
  * `01-download-pdfs.py:105`.
  */
final case class LocalFileFetcher() extends DocumentFetcher {
  override def fetch(url: String, destFile: String): Option[Long] = Try {
    val dest = Paths.get(destFile)
    if (!Files.exists(dest)) {          // idempotent skip (ref :100-101)
      Files.createDirectories(dest.getParent)
      // write-to-temp + atomic rename: a task killed mid-copy must
      // never leave a partial file that a retry would then "skip"
      val tmp = Files.createTempFile(dest.getParent, ".fetch-", ".tmp")
      try {
        Files.copy(Paths.get(url), tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        moveIntoPlace(tmp, dest)
      } finally Files.deleteIfExists(tmp)
    }
    Files.size(dest)
  }.toOption
}

/** HTTP fetcher over `java.net.http` (JDK built-in — no added
  * dependency), the production counterpart of the reference's
  * `requests.get` download (`01-download-pdfs.py:105-120`):
  * non-200 status → None (ref checks `status_code == 200` at `:108`),
  * any exception → None (`:118-120`), idempotent skip when the
  * destination exists (`:100-101`), and the same write-to-temp +
  * atomic-rename discipline as [[LocalFileFetcher]] so a task killed
  * mid-download never leaves a partial file a retry would "skip".
  *
  * One client per fetcher instance per executor (`@transient lazy`):
  * the client is rebuilt after deserialization, mirroring the
  * per-worker session the reference gets from module scope.
  */
final case class HttpFetcher(
    connectTimeoutMs: Long = 10000,
    requestTimeoutMs: Long = 60000) extends DocumentFetcher {
  import java.net.URI
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  override def fetch(url: String, destFile: String): Option[Long] = Try {
    val dest = Paths.get(destFile)
    if (!Files.exists(dest)) {          // idempotent skip (ref :100-101)
      Files.createDirectories(dest.getParent)
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
        .GET().build()
      val tmp = Files.createTempFile(dest.getParent, ".fetch-", ".tmp")
      try {
        val resp = client.send(req, HttpResponse.BodyHandlers.ofFile(tmp))
        if (resp.statusCode() != 200)   // ref :108: only 200 persists
          sys.error(s"HTTP ${resp.statusCode()} for $url")
        moveIntoPlace(tmp, dest)
      } finally Files.deleteIfExists(tmp)
    }
    Files.size(dest)
  }.toOption
}

/** Driver for the ingest stage (E1 of SURVEY.md §3). Side effects are
  * isolated in ONE eagerly-executed stage (SURVEY.md §7.4: effects
  * inside lazily re-evaluated plans re-fire on every action), and the
  * "already downloaded" skip is a left-anti join — relational, not a
  * per-row filesystem stat.
  */
object Ingest {

  /** work(url, filename) minus done(filename) → fetch each remaining
    * row inside `mapPartitions`, materializing results immediately.
    * Returns (url, filename, filesize, ok) with filesize null on
    * failure — the null-propagation contract of U1/U2
    * (`01-download-pdfs.py:118-120,157-160`).
    */
  def fetchMissing(
      spark: SparkSession,
      work: DataFrame,
      done: DataFrame,
      fetcher: DocumentFetcher): DataFrame = {
    import spark.implicits._
    // note: a USING join moves the key column first — re-select to pin
    // the (url, filename) order the tuple encoder below depends on
    val pending = work.select($"url", $"filename")
      .join(done.select($"filename"), Seq("filename"), "left_anti")
      .select($"url", $"filename")
    val fetched = pending.as[(String, String)].mapPartitions { it =>
      it.map { case (url, filename) =>
        val size = fetcher.fetch(url, filename)
        (url, filename, size, size.isDefined)
      }
    }.toDF("url", "filename", "filesize", "ok")
    fetched.persist()
    fetched.count() // force effects exactly once, before any downstream reuse
    fetched
  }
}
