package graft.sources.cdx

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{CdxUrls, Codecs, CollInfo, Http, Warc}

/** `spark.read.format("commoncrawl").option("url_like", "%.example.com/%").load()`. */
class CommonCrawlSource extends CdxSource(CommonCrawl)

/** The Common Crawl index: a pywb zipnum server answering NDJSON, with
  * bodies fetched as ranged GETs into the crawl's WARC files (gunzip +
  * parse, reference :592-613). Scale design: one partition per crawl
  * (the reference's std::async fan-out becomes cluster parallelism), times
  * `partitions=N` page-range shards within a crawl. pywb's documented
  * paging is `showNumPages=true` + `page=k`; it does not support the IA
  * server's `offset=`.
  */
object CommonCrawl extends CdxDialect {
  val name = "common_crawl_index"
  val shortName = "commoncrawl"
  val allowedOptions: Set[String] = CdxOptions.ccAllowed
  val cdxError = "Error querying CDX API"
  val missingUrl: String =
    "common_crawl_index() requires a URL filter. Use WHERE url LIKE '%.example.com/%' " +
      "or WHERE url LIKE 'https://example.com/%'"

  private val headersType = MapType(StringType, StringType)

  def schema(debug: Boolean): StructType = {
    val base = StructType(Seq(
      StructField("url", StringType),
      StructField("timestamp", TimestampType),
      StructField("mimetype", StringType),
      StructField("statuscode", IntegerType),
      StructField("digest", StringType),
      StructField("filename", StringType),
      StructField("offset", LongType),
      StructField("length", LongType),
      StructField("crawl_id", StringType),
      StructField("warc", StructType(Seq(
        StructField("version", StringType), StructField("headers", headersType)))),
      StructField("response", StructType(Seq(
        StructField("body", BinaryType), StructField("headers", headersType),
        StructField("http_version", StringType), StructField("error", StringType))))))
    if (debug) base.add(StructField("cdx_url", StringType)) else base
  }

  private[cdx] val cdxFields =
    Set("url", "timestamp", "mimetype", "statuscode", "digest", "filename", "offset", "length")

  def query(options: CaseInsensitiveStringMap): CdxQuery = new CommonCrawlQuery(options)

  private lazy val mapper = new ObjectMapper()

  def parse(text: String, req: CdxRequest): Iterator[CdxRecord] =
    text.split("\n").iterator.filter(l => l.nonEmpty && l.startsWith("{")).flatMap { line =>
      try {
        val n = mapper.readTree(line)
        def field(key: String): String = Option(n.get(key)).map(_.asText("")).getOrElse("")
        val url = field("url")
        if (url.isEmpty) None
        else Some(CdxRecord(url = url, timestamp = field("timestamp"), mimetype = field("mime"),
          statuscode = CdxRecord.int(field("status")), digest = field("digest"),
          filename = field("filename"), offset = CdxRecord.long(field("offset")),
          length = CdxRecord.long(field("length"))))
      } catch { case _: Exception => None }
    }

  def body(rec: CdxRecord, req: CdxRequest, startNanos: Long): Warc.WarcResponse =
    if (rec.filename.isEmpty || rec.offset == 0 || rec.length == 0) Warc.WarcResponse()
    else {
      val fr = Http.fetchWithRetry(s"${req.bodyEndpoint}/${rec.filename}",
        rangeStart = rec.offset, rangeLen = rec.length,
        startNanos = startNanos, timeoutSeconds = req.timeoutSeconds)
      if (fr.isError) Warc.WarcResponse(error = fr.error)
      else Warc.decompressGzip(fr.body) match {
        case Left(err) => Warc.WarcResponse(error = err)
        case Right(data) => Warc.parseWarcResponse(data)
      }
    }
}

private final class CommonCrawlQuery(options: CaseInsensitiveStringMap) extends CdxQuery(options) {
  private var indexName: String = Option(options.get("crawl")).getOrElse("")
  private var crawlIds: Vector[String] =
    Option(options.get("crawls")).toVector.flatMap(_.split(",")).filter(_.nonEmpty)
  private var fromMicros = 0L
  private var toMicros = 0L
  private var hasTsFilter = false
  private val regexCols = Set("mimetype", "statuscode")

  protected def likeToCdx(like: String): String = Codecs.convertSqlWildcardsToCdx(like)

  val nullable: Set[String] = Set("response", "warc")

  private def regex(c: String, rx: String): Boolean =
    filter("~" + CdxUrls.ccColumnToField(c) + ":" + rx)

  def consume(f: Filter): Boolean = f match {
    case EqualTo("url", v: String) => urlFilter = Codecs.convertSqlWildcardsToCdx(v); true
    case StringStartsWith("url", v) => urlFilter = v + "*"; true
    case StringEndsWith("url", v) => urlFilter = "*" + v; true
    case StringContains("url", v) => urlFilter = "*" + v + "*"; true
    case Not(StringStartsWith("url", v)) =>
      filter("!~url:^" + Codecs.escapeRegexSpecialChars(v) + ".*$")
    case Not(StringContains("url", v)) => filter("!~url:" + Codecs.sqlRegexToRegex("%" + v + "%"))

    case EqualTo("crawl_id", v: String) => indexName = v; true
    case In("crawl_id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      crawlIds = vs.map(_.asInstanceOf[String]).toVector; true

    case EqualTo("statuscode", v) => filter("=status:" + intOf(v))
    case Not(EqualTo("statuscode", v)) => filter("!status:" + intOf(v))
    case EqualTo("mimetype", v: String) => filter("=mime:" + v)
    case Not(EqualTo("mimetype", v: String)) => filter("!mime:" + v)
    case In(c, vs) if regexCols(c) && vs.nonEmpty =>
      val parts = if (c == "statuscode") vs.map(intOf).map(_.toString)
                  else vs.collect { case s: String => s }
      parts.length == vs.length && regex(c, "(" + parts.mkString("|") + ")")
    case StringStartsWith(c, v) if regexCols(c) =>
      regex(c, "^" + Codecs.escapeRegexSpecialChars(v) + ".*")
    case StringEndsWith(c, v) if regexCols(c) =>
      regex(c, ".*" + Codecs.escapeRegexSpecialChars(v) + "$")
    case StringContains(c, v) if regexCols(c) =>
      regex(c, ".*" + Codecs.escapeRegexSpecialChars(v) + ".*")

    // timestamp sets from/to and drives crawl discovery, but the filter
    // STAYS for exact re-filtering (reference :1333,1384)
    case GreaterThan("timestamp", v) => fromMicros = micros(v); hasTsFilter = true; false
    case GreaterThanOrEqual("timestamp", v) => fromMicros = micros(v); hasTsFilter = true; false
    case LessThan("timestamp", v) => toMicros = micros(v); hasTsFilter = true; false
    case LessThanOrEqual("timestamp", v) => toMicros = micros(v); hasTsFilter = true; false

    case _ => false
  }

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case d: java.sql.Date => d.getTime * 1000L
    case s: String =>
      try {
        val norm = s.trim.replace(' ', 'T')
        val withTime = if (norm.length == 10) norm + "T00:00:00" else norm
        java.time.LocalDateTime.parse(withTime.takeWhile(_ != '.').stripSuffix("Z"))
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      } catch { case _: Exception => 0L }
    case _ => 0L
  }

  private def cdxTsOf(m: Long): String =
    if (m == 0) ""
    else Codecs.toCdxTimestamp(java.time.LocalDateTime
      .ofEpochSecond(m / 1000000L, 0, java.time.ZoneOffset.UTC).toString.replace("T", " "))

  // page-range shards each fetch up to the full limit (row counts per
  // page are unknowable at plan time), so the LIMIT node must survive for
  // the global re-trim; a single-partition scan pushes it exactly
  def partiallyPushed: Boolean = partitionCount > 1

  def description(schema: StructType): String = s"common_crawl_index url=$urlFilter"

  def estimatedRows: Long = maxResults

  private def endpoint(key: String, default: String): String =
    Option(options.get(key)).getOrElse(default)

  /** Crawl resolution (reference init :434-456): explicit, then the
    * collinfo crawls overlapping a timestamp range, then the latest.
    */
  private def resolveCrawls(): Seq[String] =
    if (crawlIds.nonEmpty) crawlIds
    else if (indexName.nonEmpty) Seq(indexName)
    else {
      val cache = new CollInfo.Cache(
        endpoint("collinfo_endpoint", CdxUrls.CommonCrawlIndexEndpoint + "/collinfo.json"))
      val ids = if (hasTsFilter) cache.crawlIdsForRange(fromMicros, toMicros) else Nil
      if (ids.nonEmpty) ids else Seq(cache.latestCrawlId())
    }

  def partitions(schema: StructType): Seq[CdxRequest] = {
    val cols = schema.fieldNames.toSeq
    val needBodies = cols.contains("warc") || cols.contains("response")
    // WARC fetches need filename/offset/length (reference :500-511)
    val warcFields = Seq("filename", "offset", "length")
    val projected = (cols.filter(CommonCrawl.cdxFields) ++
      (if (needBodies || cols.exists(warcFields.contains)) warcFields else Nil)).distinct
    val cdxUrlOnly = debug && projected.isEmpty && !needBodies
    val fields = if (projected.isEmpty) Seq("url") else projected
    val crawls =
      if (cdxUrlOnly && crawlIds.isEmpty && indexName.isEmpty) Seq("CC-MAIN-latest")
      else resolveCrawls()
    // a pushed LIMIT is divided across an explicit crawl_id fan-out
    // (reference :1510-1513); timestamp-resolved crawls each get all of it
    val perCrawlLimit =
      if (limitPushed && crawlIds.nonEmpty && crawls.size > 1)
        (maxResults + crawls.size - 1) / crawls.size
      else maxResults
    val indexEndpoint = endpoint("index_endpoint", CdxUrls.CommonCrawlIndexEndpoint)
    crawls.flatMap { crawl =>
      def url(page: Int): String = CdxUrls.buildCommonCrawlUrl(indexEndpoint, crawl, urlFilter,
        fields, cdxFilters, perCrawlLimit, cdxTsOf(fromMicros), cdxTsOf(toMicros), page)
      val whole = CdxRequest(url(-1), if (cdxUrlOnly) Nil else Seq(url(-1)), fields,
        endpoint("data_endpoint", CdxUrls.CommonCrawlDataEndpoint), needBodies && !cdxUrlOnly,
        timeoutSeconds, crawlId = crawl)
      val nPages = if (partitionCount <= 1 || cdxUrlOnly) -1 else probeNumPages(whole.cdxUrl)
      if (nPages <= 1) Seq(whole)
      else {
        val shards = math.min(partitionCount, nPages)
        (0 until shards).map { i =>
          whole.copy(pages = (i * nPages / shards until (i + 1) * nPages / shards).map(url),
            cap = perCrawlLimit)
        }
      }
    }
  }

  /** Driver-side page count (`&showNumPages=true`). -1 when the server
    * gives none: the crawl then gets ONE partition, which is always
    * correct (sharding is an optimisation, never worth duplicate rows).
    */
  private def probeNumPages(cdxUrl: String): Int =
    try {
      val resp = Http.send("GET", cdxUrl + "&showNumPages=true")
      if (resp.status >= 400) -1
      else "\"pages\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(Codecs.sanitizeUtf8(resp.body))
        .map(_.group(1).toInt).getOrElse(-1)
    } catch { case _: Exception => -1 }
}
