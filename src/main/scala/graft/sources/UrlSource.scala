package graft.sources

import java.io.{File, FileOutputStream, InputStream}
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S6: HTTP(S) URL source — the reference's `download_file_from_url`
  * (`ingestion_pipeline_langgraph.py:138-155`): streamed GET in 8 KiB
  * chunks, a hard timeout, and raise-for-status, followed by extension
  * dispatch into the format readers. `requests` additionally follows
  * redirects and its adapter retries transient connection failures; both
  * behaviors are reproduced here (bounded redirect hops, exponential
  * backoff on 5xx / connect-level errors, never on 4xx — a 404 is an
  * answer, not a transient).
  *
  * Scale note: the download itself is a driver-side, single-stream fetch by
  * design — the reference ingests ONE user-provided file per request; bulk
  * distributed reads stay on the Hadoop-FS readers. The downloaded file
  * lands on local disk once and every downstream scan is the normal
  * distributed parquet/CSV path.
  */
object UrlSource {

  private val chunkBytes = 8192 // the reference's iter_content chunk_size
  private val maxRedirects = 5

  /** Download `url` into `destDir`, returning the local file path.
    *
    * @param maxAttempts total tries on transient failures (5xx status or
    *   connect/read IO errors); terminal statuses (4xx) throw immediately.
    */
  def download(url: String, destDir: String, connectTimeoutMs: Int = 30000,
      readTimeoutMs: Int = 300000, maxAttempts: Int = 3): String = {
    val uri = new URI(url)
    val name = fileName(uri)
    val dest = Paths.get(destDir, name)
    Files.createDirectories(dest.getParent)
    uri.getScheme match {
      case "http" | "https" =>
        var attempt = 0
        var backoffMs = 250L
        var lastErr: Throwable = null
        while (attempt < maxAttempts) {
          attempt += 1
          try {
            fetchOnce(uri, dest.toFile, connectTimeoutMs, readTimeoutMs)
            return dest.toString
          } catch {
            case Transient(e) if attempt < maxAttempts =>
              lastErr = e
              Thread.sleep(backoffMs)
              backoffMs *= 2
          }
        }
        throw new java.io.IOException(
          s"download of $url failed after $maxAttempts attempts", lastErr)
      case "file" | null =>
        val in = uri.toURL.openStream()
        try Files.copy(in, dest, StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        dest.toString
      case other => sys.error(s"unsupported URL scheme: $other ($url)")
    }
  }

  /** The whole S6 face: fetch the URL, then dispatch on extension through
    * the same reader set as local ingestion (`IngestOps.readAny`). */
  def readUrl(spark: SparkSession, url: String, workDir: String): DataFrame =
    graft.ops.IngestOps.readAny(spark, download(url, workDir))

  /** Marks retryable failures: connect/read-level IO and 5xx responses
    * (wrapped as RetryableStatus by fetchOnce). 4xx never retries. */
  private object Transient {
    def unapply(e: Throwable): Option[Throwable] = e match {
      case _: RetryableStatus => Some(e)
      case _: java.net.SocketException => Some(e)
      case _: java.net.SocketTimeoutException => Some(e)
      case _: java.io.EOFException => Some(e)
      case _ => None
    }
  }
  private final class RetryableStatus(msg: String)
    extends java.io.IOException(msg)

  private def fetchOnce(start: URI, dest: File, connectTimeoutMs: Int,
      readTimeoutMs: Int): Unit = {
    var uri = start
    var hops = 0
    while (true) {
      val conn = uri.toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      // redirects handled manually: HttpURLConnection's built-in follow
      // silently refuses scheme changes (http->https), which real
      // presigned/storage URLs do all the time
      conn.setInstanceFollowRedirects(false)
      conn.setRequestMethod("GET")
      try {
        val code = conn.getResponseCode
        if (code >= 300 && code < 400) {
          val loc = Option(conn.getHeaderField("Location")).getOrElse(
            sys.error(s"redirect $code from $uri carried no Location"))
          hops += 1
          if (hops > maxRedirects)
            sys.error(s"more than $maxRedirects redirects from $start")
          uri = uri.resolve(loc)
        } else if (code >= 500) {
          throw new RetryableStatus(s"HTTP $code from $uri")
        } else if (code >= 400) {
          // raise_for_status: terminal, not retryable
          throw new java.io.IOException(s"HTTP $code from $uri")
        } else {
          copyStream(conn.getInputStream, dest)
          return
        }
      } finally conn.disconnect()
    }
  }

  private def copyStream(in: InputStream, dest: File): Unit = {
    val out = new FileOutputStream(dest)
    try {
      val buf = new Array[Byte](chunkBytes)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) out.write(buf, 0, n)
        n = in.read(buf)
      }
    } finally { out.close(); in.close() }
  }

  /** Last path segment, query stripped — the reference names the local file
    * from the URL tail; a bare host (no path) falls back to "download". */
  private[graft] def fileName(uri: URI): String = {
    val path = Option(uri.getPath).getOrElse("")
    val seg = path.split("/").lastOption.getOrElse("")
    if (seg.nonEmpty) seg else "download"
  }
}
