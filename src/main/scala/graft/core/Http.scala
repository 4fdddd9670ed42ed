package graft.core

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP layer with the reference's retry/backoff/timeout policy.
  *
  * Reference: /root/reference/src/common_crawl_index.cpp:208-304 (retry
  * loop: 5 attempts, exponential backoff 100→1600 ms, retry only on
  * 503/504/connection/timeout, wall-clock `timeout` budget),
  * /root/reference/src/d1_http.cpp:122-226 (30 s D1 request timeout,
  * Bearer auth), /root/reference/src/r2_http.cpp:50-86 (60 s timeout).
  *
  * Error strings are observable behavior (they surface in the
  * `response.error` struct field) and follow the reference's formats.
  */
object Http {

  final case class FetchResult(body: Array[Byte], error: String) {
    def isError: Boolean = error.nonEmpty
  }

  final case class Response(status: Int, body: Array[Byte]) {
    def bodyString: String = new String(body, java.nio.charset.StandardCharsets.UTF_8)
  }

  lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL)
    .connectTimeout(Duration.ofSeconds(30))
    .build()

  /** Percent-encode the characters java.net.URI rejects but that appear
    * raw in CDX filter expressions (curl, used by the reference, accepts
    * them as-is; the canonical URL string we display stays raw).
    */
  def encodeUrl(url: String): String =
    url.replace(" ", "%20").replace("|", "%7C").replace("^", "%5E")
      .replace("{", "%7B").replace("}", "%7D").replace("\"", "%22")
      .replace("<", "%3C").replace(">", "%3E").replace("`", "%60")
      .replace("\\", "%5C")

  /** The one request path. Every call encodes the URL, applies the
    * timeout and headers, and reads the whole body as bytes. A request
    * without a body goes out through `GET()`/`DELETE()`, which send no
    * `Content-Length` (`method(m, noBody())` would add `Content-Length: 0`).
    * Callers set their own timeout: 30 s fits a query or metadata call,
    * 60 s an object PUT/DELETE or a CDX page.
    */
  def send(
      method: String,
      url: String,
      headers: Map[String, String] = Map.empty,
      body: Option[HttpRequest.BodyPublisher] = None,
      timeoutSeconds: Long = 30): Response = {
    val b = HttpRequest.newBuilder(URI.create(encodeUrl(url)))
      .timeout(Duration.ofSeconds(timeoutSeconds))
    (method, body) match {
      case ("GET", None) => b.GET()
      case ("DELETE", None) => b.DELETE()
      case (m, p) => b.method(m, p.getOrElse(HttpRequest.BodyPublishers.noBody()))
    }
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    Response(resp.statusCode(), resp.body())
  }

  /** `Content-Type` header for a JSON request body. */
  val JsonContent: Map[String, String] = Map("Content-Type" -> "application/json")

  // "timed out": the JDK client's timeout messages ("request timed
  // out", "HTTP connect timed out") never say "timeout"
  private def isRetryable(msg: String): Boolean =
    msg.contains("503") || msg.contains("504") ||
      msg.contains("Service Unavailable") || msg.contains("Gateway Timeout") ||
      msg.contains("connection") || msg.contains("timeout") ||
      msg.contains("timed out")

  /** Ranged fetch with the reference's retry policy: 5 attempts, backoff
    * 100/200/400/800/1600 ms, wall-clock budget in seconds measured from
    * `startNanos`, retry only on 503/504/connection/timeout. Each attempt
    * may take what is left of the budget (rounded up to whole seconds),
    * at most 60 s, so a stalled server ends the fetch with the
    * `Timeout after …` error at the budget, not up to 60 s past it.
    * Errors are in-band (`FetchResult.error`), never thrown — a failed
    * body fetch must not fail the whole scan.
    */
  def fetchWithRetry(
      url: String,
      rangeStart: Long = -1L,
      rangeLen: Long = -1L,
      startNanos: Long,
      timeoutSeconds: Int): FetchResult = {
    val maxRetries = 5
    var retryDelayMs = 100L
    var lastError = ""
    var attempt = 0
    while (attempt < maxRetries) {
      val elapsedSec = (System.nanoTime() - startNanos) / 1000000000L
      if (elapsedSec >= timeoutSeconds)
        return FetchResult(Array.emptyByteArray,
          s"Timeout after ${elapsedSec}s (limit: ${timeoutSeconds}s)")
      try {
        if (attempt > 0) {
          Thread.sleep(retryDelayMs)
          retryDelayMs *= 2
        }
        val hdrs =
          if (rangeStart >= 0 && rangeLen > 0)
            Map("Range" -> s"bytes=$rangeStart-${rangeStart + rangeLen - 1}")
          else Map.empty[String, String]
        val leftMs = timeoutSeconds * 1000L - (System.nanoTime() - startNanos) / 1000000L
        val resp = send("GET", url, hdrs,
          timeoutSeconds = math.min(60L, math.max(1L, (leftMs + 999L) / 1000L)))
        if (resp.status == 503 || resp.status == 504) {
          lastError = s"HTTP ${resp.status}"
          // retryable — fall through to next attempt
        } else if (resp.status >= 400) {
          return FetchResult(Array.emptyByteArray, s"HTTP ${resp.status}")
        } else if (resp.body.isEmpty) {
          lastError = "Failed to read data"
        } else {
          return FetchResult(resp.body, "")
        }
      } catch {
        case e: Exception =>
          lastError = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          if (!isRetryable(lastError) && attempt == 0)
            return FetchResult(Array.emptyByteArray, lastError)
      }
      attempt += 1
    }
    FetchResult(Array.emptyByteArray, s"Failed after $maxRetries retries: $lastError")
  }
}
