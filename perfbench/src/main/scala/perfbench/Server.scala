package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Latency and fault figures, per request kind, in milliseconds.
  * `lo`/`hi` bound a uniform draw; `faultShare` of WARC identities answer
  * 503 on their first `faultAttempts` attempts.
  */
final case class Profile(ranges: Map[String, (Double, Double)],
                         faultShare: Double, faultAttempts: Int)

object Profile {
  /** Reads perfbench/config.json's "server" object. */
  def fromJson(node: com.fasterxml.jackson.databind.JsonNode): Profile = {
    val scale = node.get("remote_scale").asDouble()
    val ranges = node.get("latency_ms").properties().asScala.map { e =>
      val a = e.getValue
      val s = if (e.getKey == "cdx" || e.getKey == "warc") scale else 1.0
      e.getKey -> (a.get(0).asDouble() * s, a.get(1).asDouble() * s)
    }.toMap
    Profile(ranges, node.get("warc_fault_share").asDouble(),
      node.get("warc_fault_attempts").asInt())
  }
}

/** One served request, as the server saw it. */
final case class Req(kind: String, op: Long, start: Long, end: Long,
                     reqBytes: Long, respBytes: Long, status: Int,
                     statements: Int, path: String)

/** The benchmark's own HTTP server: the remote side of every connector
  * (CDX index, WARC archive, D1, R2 object store, Iceberg REST catalog).
  *
  * Each request's latency is drawn from the seed and the request's
  * identity and applied with a timer after the handler returns, so a
  * waiting request holds no thread and the number in flight is never
  * capped (the handler pool grows on demand). A share of WARC identities,
  * chosen by the same hash, answer 503 on their first attempts and then
  * recover within the client's five-attempt policy.
  */
final class Server(seed: Long, profile: Profile, data: ServerData) {
  private var http: HttpServer = _
  private val timer = new ScheduledThreadPoolExecutor(2, (r: Runnable) => {
    val t = new Thread(r, "perfbench-latency"); t.setDaemon(true); t })
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val inflight = new AtomicInteger()
  val log = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
  /** Op id in flight on the single client, stamped on every request. */
  @volatile var currentOp: Long = 0L
  val peakInflight = new AtomicLong()

  def start(): Server = {
    http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 4096)
    http.createContext("/", (ex: HttpExchange) => handle(ex))
    http.setExecutor(Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "perfbench-http"); t.setDaemon(true); t }))
    http.start()
    this
  }

  def base: String = s"http://127.0.0.1:${http.getAddress.getPort}"

  def stop(): Unit = {
    if (http != null) http.stop(0)
    timer.shutdownNow()
  }

  /** Forget per-identity attempt counts, so a repeated pass over the same
    * crawl meets the same fault schedule. */
  def resetAttempts(): Unit = attempts.clear()

  def kindOf(path: String): String =
    if (path.startsWith("/cc/")) "cdx"
    else if (path.startsWith("/data/")) "warc"
    else if (path.startsWith("/client/v4/")) "d1"
    else if (path.startsWith("/r2-lake")) "r2"
    else if (path.startsWith("/iceberg/")) "iceberg"
    else "other"

  /** Latency for a request: a seeded hash of (kind, identity, attempt). */
  def latencyMs(kind: String, identity: String, attempt: Int): Double = {
    val (lo, hi) = profile.ranges.getOrElse(kind, (0.0, 0.0))
    lo + (hi - lo) * Server.unit(seed, s"lat|$kind|$identity|$attempt")
  }

  /** Whether the `attempt`-th (0-based) GET of a WARC identity answers 503. */
  def faulted(identity: String, attempt: Int): Boolean =
    attempt < profile.faultAttempts &&
      Server.unit(seed, s"fault|$identity") < profile.faultShare

  private def handle(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    val n = inflight.incrementAndGet()
    peakInflight.accumulateAndGet(n.toLong, math.max)
    val op = currentOp
    val body = ex.getRequestBody.readAllBytes()
    val uri = ex.getRequestURI
    val path = uri.getPath
    val kind = kindOf(path)
    val range = Option(ex.getRequestHeaders.getFirst("Range")).getOrElse("")
    val identity = s"${ex.getRequestMethod} ${uri.getRawPath}?${uri.getRawQuery}#$range" +
      (if (kind == "d1") "|" + new String(body, UTF_8) else "")
    val attempt = attempts.computeIfAbsent(identity, _ => new AtomicInteger())
      .getAndIncrement()
    val (status, bytes, stmts) =
      try {
        if (kind == "warc" && faulted(identity, attempt))
          (503, "Service Unavailable".getBytes(UTF_8), 0)
        else data.respond(kind, ex, body)
      } catch { case e: Exception =>
        (500, s"perfbench server error: $e".getBytes(UTF_8), 0) }
    val send: Runnable = () => {
      try {
        ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      } catch { case _: java.io.IOException => () }
      finally {
        ex.close()
        inflight.decrementAndGet()
        log.add(Req(kind, op, start, System.nanoTime(), body.length.toLong,
          bytes.length.toLong, status, stmts,
          path + Option(uri.getRawQuery).map("?" + _).getOrElse("")))
      }
    }
    val delayUs = (latencyMs(kind, identity, attempt) * 1000).toLong
    timer.schedule(send, delayUs, TimeUnit.MICROSECONDS)
  }

  def drainLog(): Seq[Req] = {
    val out = mutable.ArrayBuffer.empty[Req]
    var r = log.poll()
    while (r != null) { out += r; r = log.poll() }
    out.toSeq
  }
}

object Server {
  /** Uniform [0,1) from a seeded 64-bit hash of `key`. */
  def unit(seed: Long, key: String): Double = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      key.getBytes(UTF_8), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      key.getBytes(UTF_8).length, (seed ^ (seed >>> 32)).toInt)
    val h2 = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(h.toLong, 0x5bd1e995)
    ((h.toLong & 0xffffffL) << 24 | (h2.toLong & 0xffffffL)).toDouble / (1L << 48).toDouble
  }
}

object ServerData {
  val WarmupCrawl = "CC-BENCH-WARMUP"
  val WarmupPages = 1
}

/** What the server answers, per kind. Mutable only through D1 writes. */
final class ServerData(crawlDir: Option[java.io.File]) {
  // ---- crawl: CDX pages (pywb paging) and WARC archives -------------
  private lazy val cdxPages: Map[Int, Array[Byte]] = crawlDir.map { d =>
    val lines = java.nio.file.Files.readAllLines(new java.io.File(d, "cdx.ndjson").toPath)
      .asScala.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.groupBy(l => mapper.readTree(l).get("page").asInt())
      .map { case (p, ls) => p -> (ls.mkString("\n") + "\n").getBytes(UTF_8) }
  }.getOrElse(Map.empty)
  private lazy val archives: Map[String, Array[Byte]] = crawlDir.map { d =>
    new java.io.File(d, "warc").listFiles().map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
  }.getOrElse(Map.empty)

  // ---- D1: one database, table kv(k TEXT, v INTEGER, tag TEXT) -------
  val d1Rows = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, String)]()
  // ---- R2: the bucket the Iceberg fixture publishes into -------------
  val stub = new graft.fixtures.Stub() // used only as the fixture's object map

  def respond(kind: String, ex: HttpExchange, body: Array[Byte]): (Int, Array[Byte], Int) =
    kind match {
      case "cdx" => cdx(ex)
      case "warc" => warc(ex)
      case "d1" => D1Engine.handle(d1Rows, new String(body, UTF_8))
      case "r2" => r2(ex)
      case "iceberg" => iceberg(ex)
      case _ => (404, "not found".getBytes(UTF_8), 0)
    }

  private def param(q: String, name: String): Option[String] =
    Option(q).toSeq.flatMap(_.split("&")).find(_.startsWith(name + "="))
      .map(p => java.net.URLDecoder.decode(p.drop(name.length + 1), "UTF-8"))

  /** `/cc/<crawl>-index`: the full crawl, or its first pages under the
    * warm-up crawl id. */
  private def cdx(ex: HttpExchange): (Int, Array[Byte], Int) = {
    val q = ex.getRequestURI.getRawQuery
    val pages =
      if (ex.getRequestURI.getPath.contains(ServerData.WarmupCrawl)) ServerData.WarmupPages
      else cdxPages.size
    if (param(q, "showNumPages").contains("true"))
      (200, s"""{"pages": $pages, "pageSize": 5, "blocks": ${pages * 5}}""".getBytes(UTF_8), 0)
    else {
      val page = param(q, "page").map(_.toInt).getOrElse(0)
      cdxPages.get(page) match {
        case Some(b) => (200, b, 0)
        case None => (200, Array.emptyByteArray, 0)
      }
    }
  }

  private val RangeRe = "bytes=(\\d+)-(\\d+)".r

  private def ranged(ex: HttpExchange, bytes: Array[Byte]): (Int, Array[Byte], Int) =
    Option(ex.getRequestHeaders.getFirst("Range")) match {
      case Some(RangeRe(a, b)) =>
        val from = a.toLong.toInt
        val to = math.min(b.toLong, bytes.length - 1L).toInt
        if (from >= bytes.length) (416, Array.emptyByteArray, 0)
        else {
          ex.getResponseHeaders.set("Content-Range", s"bytes $from-$to/${bytes.length}")
          (206, java.util.Arrays.copyOfRange(bytes, from, to + 1), 0)
        }
      case _ => (200, bytes, 0)
    }

  private def warc(ex: HttpExchange): (Int, Array[Byte], Int) =
    archives.get(ex.getRequestURI.getPath.split("/").last) match {
      case Some(b) => ranged(ex, b)
      case None => (404, "NoSuchKey".getBytes(UTF_8), 0)
    }

  private def r2(ex: HttpExchange): (Int, Array[Byte], Int) = {
    val key = ex.getRequestURI.getPath.stripPrefix("/r2-lake").stripPrefix("/")
    val q = ex.getRequestURI.getRawQuery
    if (key.isEmpty && param(q, "list-type").contains("2")) {
      val prefix = param(q, "prefix").getOrElse("")
      val delimited = param(q, "delimiter").isDefined
      val maxKeys = param(q, "max-keys").map(_.toInt).getOrElse(1000)
      val after = param(q, "continuation-token").getOrElse("")
      val keys = stub.objects.keys.filter(_.startsWith(prefix)).toSeq.sorted
      val entries: Seq[(String, Option[Long])] =
        if (!delimited) keys.map(k => (k, Some(stub.objects(k).length.toLong)))
        else {
          val (direct, below) = keys.partition(k => !k.drop(prefix.length).contains('/'))
          (direct.map(k => (k, Some(stub.objects(k).length.toLong))) ++
            below.map(k => prefix + k.drop(prefix.length).takeWhile(_ != '/') + "/")
              .distinct.map(p => (p, None))).sortBy(_._1)
        }
      val rest = entries.filter(_._1 > after)
      val page = rest.take(math.max(1, math.min(maxKeys, 1000)))
      val xml = page.map {
        case (k, Some(sz)) =>
          s"<Contents><Key>$k</Key><LastModified>1970-01-01T00:00:00Z</LastModified><Size>$sz</Size></Contents>"
        case (p, None) => s"<CommonPrefixes><Prefix>$p</Prefix></CommonPrefixes>"
      }.mkString
      val tail = if (rest.length > page.length)
        s"<IsTruncated>true</IsTruncated><NextContinuationToken>${page.last._1}</NextContinuationToken>"
      else "<IsTruncated>false</IsTruncated>"
      (200, ("<?xml version=\"1.0\"?><ListBucketResult>" + xml + tail +
        "</ListBucketResult>").getBytes(UTF_8), 0)
    } else stub.objects.get(key) match {
      case Some(b) => ranged(ex, b)
      case None => (404, "NoSuchKey".getBytes(UTF_8), 0)
    }
  }

  private def iceberg(ex: HttpExchange): (Int, Array[Byte], Int) = {
    val segs = ex.getRequestURI.getPath.stripPrefix("/iceberg/v1/").split("/")
      .filter(_.nonEmpty).toList
    val tables = graft.fixtures.IcebergFixture.tables
    def json(s: String) = (200, s.getBytes(UTF_8), 0)
    segs match {
      case "config" :: Nil => json("""{"defaults":{},"overrides":{}}""")
      case "namespaces" :: Nil =>
        json(tables.keys.map(_._1).toSeq.distinct.sorted.map(n => s"""["$n"]""")
          .mkString("""{"namespaces":[""", ",", "]}"))
      case "namespaces" :: ns :: Nil if tables.keys.exists(_._1 == ns) =>
        json(s"""{"namespace":["$ns"],"properties":{}}""")
      case "namespaces" :: ns :: "tables" :: Nil =>
        json(tables.keys.filter(_._1 == ns).map(_._2).toSeq.sorted
          .map(t => s"""{"namespace":["$ns"],"name":"$t"}""")
          .mkString("""{"identifiers":[""", ",", "]}"))
      case "namespaces" :: ns :: "tables" :: t :: Nil if tables.contains((ns, t)) =>
        json(s"""{"metadata-location":"${tables((ns, t))}","config":{}}""")
      case _ =>
        (404, """{"error":{"message":"not found","type":"NoSuchTableException","code":404}}"""
          .getBytes(UTF_8), 0)
    }
  }
}

/** The SQL subset the d1 connector sends, over one in-memory table
  * `kv(k TEXT, v INTEGER, tag TEXT)`: PRAGMA table_info, INSERT … VALUES,
  * SELECT * with a conjunction of comparisons and LIMIT. Batches (a JSON
  * array body) apply statement by statement, as D1 does.
  */
object D1Engine {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val Insert =
    """(?s)INSERT INTO kv \(k, v, tag\) VALUES \('((?:[^']|'')*)', (-?\d+), '((?:[^']|'')*)'\)""".r
  private val Select = """(?s)SELECT \* FROM kv(?: WHERE (.*?))?(?: LIMIT (\d+))?""".r
  private val Cmp = """(\w+) (=|!=|>=|<=|>|<) (.+)""".r
  private val IsNull = """(\w+) IS (NOT )?NULL""".r

  private def result(rows: String, changes: Int): String =
    s"""{"success":true,"results":[$rows],"meta":{"changes":$changes,"last_row_id":0,"rows_read":0,"rows_written":$changes}}"""

  private def value(r: (String, Long, String), c: String): Any = c match {
    case "k" => r._1
    case "v" => r._2
    case "tag" => r._3
    case other => throw new IllegalArgumentException(s"no such column: $other")
  }

  private def lit(s: String): Any =
    if (s.startsWith("'")) s.drop(1).dropRight(1).replace("''", "'")
    else if (s.contains(".")) s.toDouble else s.toLong

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
    case (x, y) => x.toString.compareTo(y.toString)
  }

  private def pred(where: String): ((String, Long, String)) => Boolean = {
    val terms = where.replace("(", "").replace(")", "").split(" AND ").map(_.trim).toSeq
    val tests = terms.map {
      case IsNull(c, not) => (r: (String, Long, String)) => (value(r, c) == null) == (not == null)
      case Cmp(c, op, l) =>
        val x = lit(l)
        (r: (String, Long, String)) => {
          val d = cmp(value(r, c), x)
          op match {
            case "=" => d == 0; case "!=" => d != 0; case ">" => d > 0
            case ">=" => d >= 0; case "<" => d < 0; case "<=" => d <= 0
          }
        }
      case t => throw new IllegalArgumentException(s"unsupported predicate: $t")
    }
    r => tests.forall(_(r))
  }

  private def quote(s: String) = mapper.writeValueAsString(s)

  def statement(rows: java.util.List[(String, Long, String)], sql: String): String = sql.trim match {
    case "PRAGMA table_info(kv)" =>
      result(Seq("k" -> "TEXT", "v" -> "INTEGER", "tag" -> "TEXT").zipWithIndex.map {
        case ((n, t), i) =>
          s"""{"cid":$i,"name":"$n","type":"$t","notnull":0,"dflt_value":null,"pk":0}"""
      }.mkString(","), 0)
    case Insert(k, v, tag) =>
      rows.add((k.replace("''", "'"), v.toLong, tag.replace("''", "'"))); result("", 1)
    case Select(where, limit) =>
      val p = Option(where).map(pred).getOrElse((_: (String, Long, String)) => true)
      val hit = rows.asScala.iterator.filter(p)
      val kept = Option(limit).fold(hit.toSeq)(l => hit.take(l.toInt).toSeq)
      result(kept.map { case (k, v, t) => s"""{"k":${quote(k)},"v":$v,"tag":${quote(t)}}""" }
        .mkString(","), 0)
    case other => throw new IllegalArgumentException(s"unsupported statement: ${other.take(80)}")
  }

  /** One /query POST: a single `{"sql":…}` or a batch `[{"sql":…},…]`. */
  def handle(rows: java.util.List[(String, Long, String)], body: String): (Int, Array[Byte], Int) = {
    val root = mapper.readTree(body)
    val stmts = if (root.isArray) root.elements().asScala.map(_.get("sql").asText()).toSeq
                else Seq(root.get("sql").asText())
    try {
      val results = stmts.map(statement(rows, _))
      val out =
        if (root.isArray) results.mkString("""{"success":true,"errors":[],"result":[""", ",", "]}")
        else s"""{"success":true,"errors":[],"result":[${results.head}]}"""
      (200, out.getBytes(UTF_8), stmts.length)
    } catch { case e: IllegalArgumentException =>
      (200, s"""{"success":false,"errors":[{"code":7500,"message":${quote(e.getMessage)}}],"result":[]}"""
        .getBytes(UTF_8), stmts.length)
    }
  }
}
