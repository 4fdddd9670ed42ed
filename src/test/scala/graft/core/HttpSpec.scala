package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Stub

/** The remote-boundary contract of `Http.fetchWithRetry`: which statuses
  * retry, how many attempts, the in-band error strings, the wall-clock
  * budget and the Range header. Total backoff across the suite is 1.8 s
  * (100+200 ms, then 100+200+400+800 ms); the stalled route adds its
  * 2 s budget.
  */
class HttpSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Per-path scripted statuses; the last one repeats. */
  private val scripts = TrieMap.empty[String, Seq[Int]]
  private val served = TrieMap.empty[String, Int]

  private lazy val stub: Stub = new Stub().start().route("/s/") { ex =>
    val path = ex.getRequestURI.getPath
    val n = served.getOrElse(path, 0)
    served.put(path, n + 1)
    val script = scripts(path)
    val status = script(math.min(n, script.length - 1))
    (status, s"body $status".getBytes(UTF_8))
  }.route("/stall/") { _ =>
    Thread.sleep(4000)
    (200, "late".getBytes(UTF_8))
  }

  override def afterAll(): Unit = stub.stop()

  private def requests(path: String): Seq[String] =
    stub.requests.asScala.map(_._1).filter(_.startsWith(path)).toSeq

  private def fetch(path: String, statuses: Int*): Http.FetchResult = {
    scripts.put(path, statuses)
    Http.fetchWithRetry(stub.base + path, startNanos = System.nanoTime(), timeoutSeconds = 30)
  }

  test("503, 503, 200 retries to the body after three requests") {
    val r = fetch("/s/flaky", 503, 503, 200)
    assert(!r.isError, r.error)
    assert(new String(r.body, UTF_8) == "body 200")
    assert(requests("/s/flaky").length == 3)
  }

  test("404 is final after one request") {
    val r = fetch("/s/missing", 404)
    assert(r.error == "HTTP 404")
    assert(r.body.isEmpty)
    assert(requests("/s/missing").length == 1)
  }

  test("five 503s exhaust the retries") {
    val r = fetch("/s/down", 503)
    assert(r.error == "Failed after 5 retries: HTTP 503")
    assert(requests("/s/down").length == 5)
  }

  test("a start already past the budget times out without a request") {
    scripts.put("/s/late", Seq(200))
    val r = Http.fetchWithRetry(stub.base + "/s/late",
      startNanos = System.nanoTime() - 5000000000L, timeoutSeconds = 1)
    assert(r.error.startsWith("Timeout after "), r.error)
    assert(r.error.endsWith("s (limit: 1s)"), r.error)
    assert(requests("/s/late").isEmpty)
  }

  test("a stalled server ends the fetch at the budget, not 60 s past it") {
    val t0 = System.nanoTime()
    val r = Http.fetchWithRetry(stub.base + "/stall/x", startNanos = t0, timeoutSeconds = 2)
    val tookMs = (System.nanoTime() - t0) / 1000000L
    assert(r.error == "Timeout after 2s (limit: 2s)", r.error)
    assert(tookMs >= 2000L && tookMs < 3000L, s"took $tookMs ms")
    assert(requests("/stall/x").length == 1)
  }

  test("a ranged fetch sends the Range header") {
    scripts.put("/s/ranged", Seq(206))
    val r = Http.fetchWithRetry(stub.base + "/s/ranged", rangeStart = 100L, rangeLen = 50L,
      startNanos = System.nanoTime(), timeoutSeconds = 30)
    assert(new String(r.body, UTF_8) == "body 206")
    assert(requests("/s/ranged") == Seq("/s/ranged#Range:bytes=100-149"))
  }
}
