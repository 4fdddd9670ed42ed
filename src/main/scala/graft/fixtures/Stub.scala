package graft.fixtures

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.concurrent.TrieMap

/** In-process HTTP stub for exercising the connectors offline (the
  * environment has zero egress). Serves canned CDX / D1 / R2 payloads and
  * records every request for pushdown assertions.
  *
  * This is a test/verification fixture, not part of the engine; it lives
  * in main so the driver-run Verify queries can spin it up.
  */
final class Stub {
  private var server: HttpServer = _
  val requests = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]() // (path?query, body)
  /** Stateful D1 fixture table `kv_test(k TEXT, v INTEGER)` — backs the
    * write-path round-trip gate queries (INSERT via d1_execute / batch
    * session, read-back via d1_scan).
    */
  val kvRows = new java.util.concurrent.CopyOnWriteArrayList[(String, Long)]()
  /** S3-style object store for the `r2-lake` fixture bucket (key →
    * bytes), served with ListObjectsV2 + byte-range GET semantics.
    */
  val objects = TrieMap.empty[String, Array[Byte]]
  /** Per-key LastModified millis (PUT/copy time) — served in listings so
    * the filesystem's FileStatus carries real modification times (the
    * index writer lease judges staleness by them).
    */
  val objectTimes = TrieMap.empty[String, Long]
  /** Server-side ListObjectsV2 page cap (real S3/R2 cap: 1,000 keys per
    * response regardless of max-keys). Tests lower it to force paging.
    */
  @volatile var listPageCap: Int = 1000
  private val routes = TrieMap.empty[String, HttpExchange => (Int, Array[Byte])]
  /** Each in-flight request's body, by exchange. Not an exchange
    * attribute: on JDK 17 those live in the shared HttpContext, so
    * concurrent requests read each other's bodies.
    */
  private val bodies = new java.util.concurrent.ConcurrentHashMap[HttpExchange, Array[Byte]]()

  /** The raw body of request `ex`, while its route runs (binary payloads
    * such as an S3-style object PUT; [[body]] is lossy for them).
    */
  def bodyBytes(ex: HttpExchange): Array[Byte] =
    bodies.getOrDefault(ex, Array.emptyByteArray)

  /** The body of request `ex` as UTF-8 text, while its route runs. */
  def body(ex: HttpExchange): String = new String(bodyBytes(ex), UTF_8)

  def start(): Stub = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val bodyBytes = ex.getRequestBody.readAllBytes()
      val body = new String(bodyBytes, UTF_8)
      // record the Range header in-line so pushdown tests can assert
      // byte-ranged (never whole-object) reads
      val pathQ = ex.getRequestURI.toString +
        Option(ex.getRequestHeaders.getFirst("Range")).map("#Range:" + _).getOrElse("")
      requests.add((pathQ, body))
      val handler = routes.collectFirst {
        case (prefix, h) if ex.getRequestURI.getPath.startsWith(prefix) => h
      }
      bodies.put(ex, bodyBytes)
      val (status, bytes) = try handler match {
        case Some(h) => try h(ex) catch { case e: Exception =>
          (500, s"stub error: ${e.getMessage}".getBytes(UTF_8)) }
        case None => (404, "not found".getBytes(UTF_8))
      } finally bodies.remove(ex)
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    })
    // daemon threads: the stub must never keep the JVM alive after main
    // returns (the driver's Verify run would otherwise hang)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
    server.start()
    this
  }

  def port: Int = server.getAddress.getPort
  def base: String = s"http://127.0.0.1:$port"

  def route(pathPrefix: String)(h: HttpExchange => (Int, Array[Byte])): Stub = {
    routes.put(pathPrefix, h); this
  }

  def routeText(pathPrefix: String)(f: HttpExchange => String): Stub =
    route(pathPrefix)(ex => (200, f(ex).getBytes(UTF_8)))

  def stop(): Unit = if (server != null) server.stop(0)
}

/** Canned payloads shared by tests and the Verify connector queries —
  * shapes follow FIXTURES.md (derived from the reference's test corpus).
  */
object Fixtures {

  /** Wayback CDX CSV (space-delimited, fl order urlkey,timestamp,
    * original,mimetype,statuscode,digest,length).
    */
  val waybackCsvFull: String =
    """com,example)/ 20240115103000 https://example.com/ text/html 200 ABCDEF123 1234
      |com,example)/about 20240116120000 https://example.com/about text/html 200 BCDEF1234 2345
      |com,example)/missing 20230601000000 https://example.com/missing text/html 404 CDEF12345 512
      |""".stripMargin

  /** Serve the subset of columns requested via fl=, in canonical order. */
  def waybackCsv(flParam: String): String = {
    val all = Seq("urlkey", "timestamp", "original", "mimetype", "statuscode", "digest", "length")
    val rows = waybackCsvFull.split("\n").filter(_.nonEmpty).map(_.split(" "))
    val wanted = if (flParam.isEmpty) all else flParam.split(",").toSeq
    val idx = wanted.map(all.indexOf)
    rows.map(r => idx.map(r.apply).mkString(" ")).mkString("\n") + "\n"
  }

  /** Common Crawl CDX NDJSON. */
  val ccNdjson: String =
    """{"url": "https://example.com/", "timestamp": "20240115103000", "mime": "text/html", "status": "200", "digest": "SHA1AAA", "filename": "crawl-data/CC-MAIN-2024-46/warc/part-0.warc.gz", "offset": "100", "length": "%LEN%"}
      |{"url": "https://example.com/p2", "timestamp": "20240116120000", "mime": "text/plain", "status": "200", "digest": "SHA1BBB", "filename": "crawl-data/CC-MAIN-2024-46/warc/part-0.warc.gz", "offset": "5000", "length": "%LEN%"}
      |""".stripMargin

  val collinfoJson: String =
    """[
      |{"id":"CC-MAIN-2024-46","name":"November 2024 Index","from":"2024-11-01T00:00:00","to":"2024-11-14T00:00:00"},
      |{"id":"CC-MAIN-2024-42","name":"October 2024 Index","from":"2024-10-01T00:00:00","to":"2024-10-14T00:00:00"}
      |]""".stripMargin

  /** One gzip'd WARC record fixture. */
  lazy val warcGz: Array[Byte] = {
    val rec = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.com/\r\n\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nServer: stub\r\n\r\n<html>hello graft</html>"
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)); gz.close()
    bos.toByteArray
  }

  /** D1 fixture database: users/orders tables per FIXTURES.md §3. */
  def d1Response(sql: String): String = {
    val s = sql.trim
    def result(rows: String, changes: Int = 0): String =
      s"""{"success":true,"errors":[],"result":[{"results":[$rows],"meta":{"changes":$changes,"last_row_id":0,"rows_read":0,"rows_written":0}}]}"""
    if (s.startsWith("PRAGMA table_list"))
      result(
        """{"schema":"main","name":"users","type":"table","ncol":4,"wr":1,"strict":0},
          |{"schema":"main","name":"orders","type":"table","ncol":4,"wr":1,"strict":0},
          |{"schema":"main","name":"_cf_KV","type":"table","ncol":2,"wr":1,"strict":0},
          |{"schema":"main","name":"sqlite_schema","type":"table","ncol":5,"wr":0,"strict":0}""".stripMargin)
    else if (s.startsWith("PRAGMA table_info(users)"))
      result(
        """{"cid":0,"name":"id","type":"INTEGER","notnull":0,"dflt_value":null,"pk":1},
          |{"cid":1,"name":"name","type":"TEXT","notnull":0,"dflt_value":null,"pk":0},
          |{"cid":2,"name":"active","type":"BOOLEAN","notnull":0,"dflt_value":null,"pk":0},
          |{"cid":3,"name":"balance","type":"REAL","notnull":0,"dflt_value":null,"pk":0}""".stripMargin)
    else if (s.startsWith("PRAGMA table_info(orders)"))
      result(
        """{"cid":0,"name":"id","type":"INTEGER","notnull":0,"dflt_value":null,"pk":1},
          |{"cid":1,"name":"user_id","type":"INTEGER","notnull":0,"dflt_value":null,"pk":0},
          |{"cid":2,"name":"status","type":"TEXT","notnull":0,"dflt_value":null,"pk":0},
          |{"cid":3,"name":"total","type":"REAL","notnull":0,"dflt_value":null,"pk":0}""".stripMargin)
    else if (s.startsWith("SELECT * FROM users")) {
      val all = Seq(
        """{"id":1,"name":"alice","active":true,"balance":10.5}""",
        """{"id":2,"name":"bob","active":false,"balance":0}""",
        """{"id":3,"name":"carol","active":true,"balance":7.25}""",
        """{"id":4,"name":null,"active":null,"balance":null}""")
      // honor pushed-down WHERE active = 1 / LIMIT n for the fixture
      val filtered = if (s.contains("WHERE") && s.contains("active = 1")) {
        Seq(all(0), all(2))
      } else all
      val limited = "LIMIT (\\d+)".r.findFirstMatchIn(s) match {
        case Some(m) => filtered.take(m.group(1).toInt)
        case None => filtered
      }
      result(limited.mkString(","))
    } else if (s.startsWith("SELECT * FROM orders"))
      result(
        """{"id":10,"user_id":1,"status":"shipped","total":99.9},
          |{"id":11,"user_id":3,"status":"pending","total":5.0}""".stripMargin)
    else if (s.startsWith("SELECT name, balance FROM users WHERE active = 1"))
      result("""{"name":"alice","balance":10.5},{"name":"carol","balance":7.25}""")
    else if (s.startsWith("INSERT") || s.startsWith("UPDATE") || s.startsWith("DELETE") ||
             s.startsWith("CREATE") || s.startsWith("DROP"))
      result("", changes = 1)
    else if (s.startsWith("SELECT count"))
      result("""{"cnt":4}""")
    else
      result("")
  }

  private val KvInsert = "INSERT INTO kv_test \\(k, v\\) VALUES \\('([^']*)', (-?\\d+)\\)".r

  /** Stateful `kv_test` statement processor (side-effecting). Returns
    * Some((rowsJson, changes)) when the statement touches kv_test, None to
    * fall through to the canned fixtures. Deliberately NOT listed in
    * PRAGMA table_list — qc09's d1_tables oracle pins the canned tables.
    */
  def applyKv(stub: Stub, sql: String): Option[(String, Int)] = {
    val s = sql.trim
    s match {
      case KvInsert(k, v) => stub.kvRows.add((k, v.toLong)); Some(("", 1))
      case _ if s.startsWith("DELETE FROM kv_test") =>
        val n = stub.kvRows.size(); stub.kvRows.clear(); Some(("", n))
      case _ if s.startsWith("SELECT * FROM kv_test") =>
        val it = stub.kvRows.iterator()
        val rows = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val (k, v) = it.next(); rows += s"""{"k":"$k","v":$v}""" }
        Some((rows.mkString(","), 0))
      case _ if s.startsWith("PRAGMA table_info(kv_test)") =>
        Some(("""{"cid":0,"name":"k","type":"TEXT","notnull":0,"dflt_value":null,"pk":0},
                |{"cid":1,"name":"v","type":"INTEGER","notnull":0,"dflt_value":null,"pk":0}""".stripMargin, 0))
      case _ => None
    }
  }

  val d1DatabasesJson: String =
    """{"success":true,"errors":[],"result":[
      |{"uuid":"11111111-2222-3333-4444-555555555555","name":"my-database","created_at":"2024-01-01T00:00:00Z","version":"production","file_size":4096,"num_tables":2,"created_in_region":"WNAM"},
      |{"uuid":"66666666-7777-8888-9999-000000000000","name":"other-db","created_at":"2024-02-01T00:00:00Z","version":"production","file_size":8192,"num_tables":5,"created_in_region":"EEUR"}
      |]}""".stripMargin

  val r2QueryResponse: String =
    """{"results":[{"order_id":1,"amount":42.5}],"metadata":{"rows":1}}"""

  /** Start a stub serving the whole fixture surface: wayback CDX + pages,
    * CC index + collinfo + WARC data, D1 API, R2 SQL.
    */
  def startAll(): Stub = {
    val stub = new Stub().start()
    stub.routeText("/cdx/search/cdx") { ex =>
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val fl = q.split("&").find(_.startsWith("fl=")).map(_.drop(3)).getOrElse("")
      waybackCsv(fl)
    }
    stub.route("/web/") { _ => (200, "<html>archived page</html>".getBytes(UTF_8)) }
    stub.routeText("/collinfo.json")(_ => collinfoJson)
    stub.route("/CC-MAIN-") { ex =>
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      // pywb zipnum pagination surface: page-count probe + page fetches
      // (every page serves the same fixture rows; tests assert shapes)
      if (q.contains("showNumPages=true"))
        (200, """{"pages": 4, "pageSize": 5, "blocks": 20}""".getBytes(UTF_8))
      else (200, ccNdjson.replace("%LEN%", warcGz.length.toString).getBytes(UTF_8))
    }
    // a crawl whose index predates pywb paging: no page-count support
    stub.route("/CC-NOPAGES-") { _ =>
      (200, ccNdjson.replace("%LEN%", warcGz.length.toString).getBytes(UTF_8))
    }
    stub.route("/crawl-data/") { ex =>
      // honor Range header over the WARC fixture
      val range = Option(ex.getRequestHeaders.getFirst("Range"))
      range match {
        case Some(r) =>
          // bytes=start-end over a virtual file where our record sits at
          // any offset: always serve the full gzip member (the reader
          // gunzips whatever the range returns).
          (206, warcGz)
        case None => (200, warcGz)
      }
    }
    stub.route("/client/v4/accounts/") { ex =>
      val path = ex.getRequestURI.getPath
      val body = stub.body(ex)
      if (path.endsWith("/d1/database")) (200, d1DatabasesJson.getBytes(UTF_8))
      else {
        val sql = "\"sql\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r.findFirstMatchIn(body)
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).getOrElse("")
        if (body.trim.startsWith("[")) {
          // batch: one result per statement (each applied to kv_test state
          // when it targets the stateful fixture table)
          val stmts = "\"sql\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(body)
            .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
          val results = stmts.map { st =>
            val changes = applyKv(stub, st).map(_._2).getOrElse(1)
            s"""{"success":true,"results":[],"meta":{"changes":$changes}}"""
          }.mkString(",")
          (200, s"""{"success":true,"errors":[],"result":[$results]}""".getBytes(UTF_8))
        } else (200, applyKv(stub, sql).map { case (rows, ch) =>
          s"""{"success":true,"errors":[],"result":[{"results":[$rows],"meta":{"changes":$ch,"last_row_id":0,"rows_read":0,"rows_written":0}}]}"""
        }.getOrElse(d1Response(sql)).getBytes(UTF_8))
      }
    }
    stub.route("/api/v1/accounts/") { _ => (200, r2QueryResponse.getBytes(UTF_8)) }
    // S3-compatible surface for the r2:// Hadoop filesystem: bucket
    // listing (ListObjectsV2) + ranged object GETs over stub.objects,
    // plus the write verbs the filesystem's opt-in write mode uses —
    // object PUT (atomic per object, S3 semantics), CopyObject (PUT with
    // x-amz-copy-source), and DELETE (idempotent)
    stub.route("/r2-lake") { ex =>
      val path = ex.getRequestURI.getPath.stripPrefix("/r2-lake").stripPrefix("/")
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val method = ex.getRequestMethod
      if (method == "PUT") {
        Option(ex.getRequestHeaders.getFirst("x-amz-copy-source")) match {
          case Some(src) =>
            val srcKey = src.stripPrefix("/r2-lake/")
            stub.objects.get(srcKey) match {
              case Some(bytes) =>
                stub.objects.put(path, bytes)
                stub.objectTimes.put(path, System.currentTimeMillis())
                (200, "<CopyObjectResult/>".getBytes(UTF_8))
              case None => (404, "NoSuchKey".getBytes(UTF_8))
            }
          case None =>
            stub.objects.put(path, stub.bodyBytes(ex))
            stub.objectTimes.put(path, System.currentTimeMillis())
            (200, Array.emptyByteArray)
        }
      } else if (method == "DELETE") {
        stub.objects.remove(path)
        stub.objectTimes.remove(path)
        (204, Array.emptyByteArray)
      } else if (path.isEmpty && q.contains("list-type=2")) {
        def param(name: String): Option[String] = q.split("&")
          .find(_.startsWith(name + "="))
          .map(p => java.net.URLDecoder.decode(p.drop(name.length + 1), "UTF-8"))
        val prefix = param("prefix").getOrElse("")
        val delimited = q.contains("delimiter=")
        val maxKeys = param("max-keys").map(_.toInt).getOrElse(1000)
        val token = param("continuation-token")
        val keys = stub.objects.keys.filter(_.startsWith(prefix)).toSeq.sorted
        // S3 merges Contents and CommonPrefixes into one lexicographic
        // sequence, counts BOTH toward max-keys, and paginates over it
        // with an opaque continuation token.
        val entries: Seq[(String, Option[Long])] =
          if (!delimited) keys.map(k => (k, Some(stub.objects(k).length.toLong)))
          else {
            val (direct, below) = keys.partition(k => !k.drop(prefix.length).contains('/'))
            val rolled = below.map(k => prefix + k.drop(prefix.length).takeWhile(_ != '/') + "/")
              .distinct.map(p => (p, None: Option[Long]))
            (direct.map(k => (k, Some(stub.objects(k).length.toLong))) ++ rolled).sortBy(_._1)
          }
        val after = token match {
          case Some(t) => entries.dropWhile(_._1 <= t)
          case None    => entries
        }
        val cap = math.max(1, math.min(maxKeys, stub.listPageCap))
        val page = after.take(cap)
        val body = page.map {
          case (k, Some(sz)) =>
            val lm = java.time.Instant
              .ofEpochMilli(stub.objectTimes.getOrElse(k, 0L)).toString
            s"<Contents><Key>$k</Key><LastModified>$lm</LastModified><Size>$sz</Size></Contents>"
          case (p, None)     => s"<CommonPrefixes><Prefix>$p</Prefix></CommonPrefixes>"
        }.mkString
        val tail =
          if (after.length > cap)
            s"<IsTruncated>true</IsTruncated><NextContinuationToken>${page.last._1}</NextContinuationToken>"
          else "<IsTruncated>false</IsTruncated>"
        val xml = "<?xml version=\"1.0\"?><ListBucketResult>" + body + tail + "</ListBucketResult>"
        (200, xml.getBytes(UTF_8))
      } else stub.objects.get(path) match {
        case Some(bytes) =>
          Option(ex.getRequestHeaders.getFirst("Range")) match {
            case Some(r) =>
              val m = "bytes=(\\d+)-(\\d+)".r.findFirstMatchIn(r)
              m match {
                case Some(g) =>
                  val a = g.group(1).toLong.toInt
                  val b = math.min(g.group(2).toLong, bytes.length - 1L).toInt
                  if (a >= bytes.length) (416, Array.emptyByteArray)
                  else {
                    ex.getResponseHeaders.set("Content-Range",
                      s"bytes $a-$b/${bytes.length}")
                    (206, java.util.Arrays.copyOfRange(bytes, a, b + 1))
                  }
                case None => (200, bytes)
              }
            case None => (200, bytes)
          }
        case None => (404, "NoSuchKey".getBytes(UTF_8))
      }
    }
    stub
  }
}
