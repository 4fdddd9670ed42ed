package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark server serves the latency and fault schedule its seed
  * fixes, and never caps the number of requests in flight.
  *
  * Run with: cd perfbench && sbt test
  */
class ServerSpec extends AnyFunSuite {
  private val profile = Profile(Map("warc" -> (40.0, 60.0), "cdx" -> (20.0, 30.0)),
    faultShare = 0.25, faultAttempts = 1)

  private def crawlDir(): java.io.File = {
    new java.io.File(sys.props("java.io.tmpdir")).mkdirs()
    val d = java.nio.file.Files.createTempDirectory("serverspec").toFile
    new java.io.File(d, "warc").mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "warc/part-00000.warc.gz").toPath,
      Array.tabulate[Byte](4096)(i => (i % 251).toByte))
    java.nio.file.Files.write(new java.io.File(d, "cdx.ndjson").toPath,
      """{"url": "u", "page": 0}""".getBytes("UTF-8"))
    d
  }

  private val client = HttpClient.newHttpClient()
  private def get(url: String, range: String): (Int, Long) = {
    val t0 = System.nanoTime()
    val r = client.send(HttpRequest.newBuilder(URI.create(url)).header("Range", range).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), (System.nanoTime() - t0) / 1000000L)
  }

  test("latency is a function of seed, kind, identity and attempt") {
    val a = new Server(7, profile, new ServerData(None))
    val b = new Server(7, profile, new ServerData(None))
    val c = new Server(8, profile, new ServerData(None))
    val ids = (0 until 200).map(i => s"GET /data/x?#bytes=$i-${i + 9}")
    val la = ids.map(a.latencyMs("warc", _, 0))
    assert(la == ids.map(b.latencyMs("warc", _, 0)))
    assert(la != ids.map(c.latencyMs("warc", _, 0)))
    assert(la.forall(l => l >= 40.0 && l < 60.0))
    assert(la != ids.map(a.latencyMs("warc", _, 1)), "a retry draws a fresh latency")
  }

  test("the fault schedule is seeded, near its share, and recovers on retry") {
    val s = new Server(7, profile, new ServerData(None))
    val ids = (0 until 4000).map(i => s"GET /data/x?#bytes=$i-${i + 9}")
    val share = ids.count(s.faulted(_, 0)).toDouble / ids.size
    assert(math.abs(share - 0.25) < 0.03, s"share $share")
    assert(ids.forall(id => !s.faulted(id, 1)), "second attempts always succeed")
    assert(ids.filter(s.faulted(_, 0)) ==
      ids.filter(new Server(7, profile, new ServerData(None)).faulted(_, 0)))
  }

  test("served requests follow the schedule: 503 first where faulted, delay at least the draw") {
    val s = new Server(11, profile, new ServerData(Some(crawlDir()))).start()
    try {
      val url = s"${s.base}/data/crawl-data/C/part-00000.warc.gz"
      (0 until 20).foreach { i =>
        val range = s"bytes=${i * 10}-${i * 10 + 9}"
        val id = s"GET /data/crawl-data/C/part-00000.warc.gz?null#$range"
        val (st0, ms0) = get(url, range)
        assert(st0 == (if (s.faulted(id, 0)) 503 else 206))
        assert(ms0 >= math.floor(s.latencyMs("warc", id, 0)).toLong)
        val (st1, ms1) = get(url, range)
        assert(st1 == 206)
        assert(ms1 >= math.floor(s.latencyMs("warc", id, 1)).toLong)
      }
    } finally s.stop()
  }

  test("requests in flight are not capped") {
    val slow = Profile(Map("warc" -> (300.0, 300.0)), 0.0, 0)
    val s = new Server(1, slow, new ServerData(Some(crawlDir()))).start()
    try {
      val url = s"${s.base}/data/crawl-data/C/part-00000.warc.gz"
      val t0 = System.nanoTime()
      val fs = (0 until 64).map(i => java.util.concurrent.CompletableFuture.supplyAsync(
        () => get(url, s"bytes=$i-$i"), java.util.concurrent.Executors.newCachedThreadPool()))
      fs.foreach(f => assert(f.join()._1 == 206))
      val wallMs = (System.nanoTime() - t0) / 1000000L
      assert(s.peakInflight.get() >= 32, s"peak ${s.peakInflight.get()}")
      assert(wallMs < 64 * 300 / 8, s"64 x 300 ms requests took $wallMs ms")
    } finally s.stop()
  }
}
