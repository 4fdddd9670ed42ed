package graft.sources.cdx

import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{CdxUrls, Codecs, Http, Warc}

/** `spark.read.format("wayback").option("url", "example.com").load()`. */
class WaybackSource extends CdxSource(Wayback)

/** The Internet Archive CDX server: space-separated lines in `fl=` order,
  * bodies fetched from `/web/<timestamp>id_/<url>`. Scale design: one
  * partition by default, as in the reference; `partitions=N` splits a
  * large pull into N `offset=` chunks.
  */
object Wayback extends CdxDialect {
  val name = "wayback_machine"
  val shortName = "wayback"
  val allowedOptions: Set[String] = CdxOptions.waybackAllowed
  val cdxError = "Error querying Internet Archive CDX API"
  val missingUrl: String =
    "wayback_machine() requires a URL filter. Use WHERE url = 'example.com', WHERE url " +
      "LIKE 'example.com/%', or WHERE url LIKE '%.example.com' for subdomains"

  def schema(debug: Boolean): StructType = {
    val base = StructType(Seq(
      StructField("url", StringType),
      StructField("timestamp", TimestampType),
      StructField("urlkey", StringType),
      StructField("mimetype", StringType),
      StructField("statuscode", IntegerType),
      StructField("digest", StringType),
      StructField("length", LongType),
      StructField("response", StructType(Seq(
        StructField("body", BinaryType), StructField("error", StringType)))),
      StructField("year", IntegerType),
      StructField("month", IntegerType)))
    if (debug) base.add(StructField("cdx_url", StringType)) else base
  }

  /** Spark column → CDX `fl=` field (url→original); year/month derive
    * from timestamp; response and cdx_url need no field.
    */
  private[cdx] def columnToCdxField(col: String): Option[String] = col match {
    case "url"                  => Some("original")
    case "year" | "month"       => Some("timestamp")
    case "timestamp" | "urlkey" | "mimetype" | "statuscode" | "digest" | "length" => Some(col)
    case _                      => None
  }

  def query(options: CaseInsensitiveStringMap): CdxQuery = new WaybackQuery(options)

  def parse(text: String, req: CdxRequest): Iterator[CdxRecord] =
    text.split("\n").iterator.filter(_.nonEmpty).flatMap { line =>
      val values = line.trim.split("\\s+")
      if (values.length < req.fields.length || (req.fields.isEmpty && values.forall(_.isEmpty))) None
      else {
        val v = req.fields.zip(values).toMap.withDefaultValue("")
        Some(CdxRecord(url = v("original"), timestamp = v("timestamp"), urlkey = v("urlkey"),
          mimetype = v("mimetype"), statuscode = CdxRecord.int(v("statuscode")),
          digest = v("digest"), length = CdxRecord.long(v("length"))))
      }
    }

  def body(rec: CdxRecord, req: CdxRequest, startNanos: Long): Warc.WarcResponse =
    if (rec.timestamp.isEmpty || rec.url.isEmpty) Warc.WarcResponse(error = "Missing timestamp or URL")
    else {
      val fr = Http.fetchWithRetry(s"${req.bodyEndpoint}/${rec.timestamp}id_/${rec.url}",
        startNanos = startNanos, timeoutSeconds = req.timeoutSeconds)
      Warc.WarcResponse(body = fr.body, error = fr.error)
    }
}

private final class WaybackQuery(options: CaseInsensitiveStringMap) extends CdxQuery(options) {
  private var matchType: String = Option(options.get("match_type")).getOrElse("exact")
  private var fromDate: String = Option(options.get("from")).getOrElse("")
  private var toDate: String = Option(options.get("to")).getOrElse("")
  private val collapses: Vector[String] =
    Option(options.get("collapse")).toVector.flatMap(_.split(";")).filter(_.nonEmpty)
  private var fastLatest = false
  private var offset = 0L
  private val regexCols = Set("urlkey", "mimetype", "statuscode")

  protected def likeToCdx(like: String): String = like.replace('%', '*')

  // year/month are null on malformed remote timestamps, which a pushed
  // from/to range excludes
  val nullable: Set[String] = Set("response", "year", "month")
  override val impliedNotNull: Set[String] = Set("year", "month")
  override def rangePushed: Boolean = fromDate.nonEmpty || toDate.nonEmpty

  def consume(f: Filter): Boolean = f match {
    case EqualTo("url", v: String) => urlFilter = v; matchType = "exact"; true
    case StringStartsWith("url", v) => urlFilter = v + "*"; true
    case StringEndsWith("url", v) => urlFilter = "*" + v; true
    case Not(StringContains("url", v)) => filter("!original:.*" + backslashEscape(v) + ".*")
    case Not(StringStartsWith("url", v)) => filter("!original:" + Codecs.likeToRegex(v + "%"))

    case StringStartsWith(c, v) if regexCols(c) => filter(c + ":^" + v + ".*")
    case StringEndsWith(c, v) if regexCols(c) => filter(c + ":.*" + v + "$")
    case StringContains(c, v) if regexCols(c) =>
      filter(c + ":.*" + Codecs.escapeRegexSpecialChars(v) + ".*")
    case Not(StringContains("urlkey", v)) => filter("!urlkey:.*" + backslashEscape(v) + ".*")
    case Not(StringStartsWith("urlkey", v)) => filter("!urlkey:^" + v + ".*")
    case Not(StringEndsWith("urlkey", v)) => filter("!urlkey:.*" + v + "$")
    case EqualTo("statuscode", v) => filter("statuscode:" + intOf(v))
    case Not(EqualTo("statuscode", v)) => filter("!statuscode:" + intOf(v))
    case EqualTo("mimetype", v: String) => filter("mimetype:" + v)
    case Not(EqualTo("mimetype", v: String)) => filter("!mimetype:" + v)
    case In(c, vs) if regexCols(c) && vs.nonEmpty =>
      val parts =
        if (c == "statuscode") vs.map(intOf)
        else vs.collect { case s: String => Codecs.escapeRegexSpecialChars(s) }
      parts.length == vs.length && filter(c + ":(" + parts.mkString("|") + ")")

    // the remote is trusted: timestamp filters are REMOVED (reference :1196,1264)
    case GreaterThan("timestamp", v) => fromDate = Codecs.toCdxTimestamp(v.toString); true
    case GreaterThanOrEqual("timestamp", v) => fromDate = Codecs.toCdxTimestamp(v.toString); true
    case LessThan("timestamp", v) => toDate = Codecs.toCdxTimestamp(v.toString); true
    case LessThanOrEqual("timestamp", v) => toDate = Codecs.toCdxTimestamp(v.toString); true

    // year → from/to prefixes (reference :1272-1311)
    case GreaterThan("year", v) => fromDate = (intOf(v) + 1).toString; true
    case GreaterThanOrEqual("year", v) => fromDate = intOf(v).toString; true
    case LessThan("year", v) => toDate = (intOf(v) - 1).toString; true
    case LessThanOrEqual("year", v) => toDate = intOf(v).toString; true
    case EqualTo("year", v) => fromDate = intOf(v).toString; toDate = intOf(v).toString; true

    case _ => false
  }

  /** The reference's NOT-contains escape (backslash, not %5C):
    * src/internet_archive.cpp:1136-1146.
    */
  private def backslashEscape(v: String): String = {
    val sb = new StringBuilder
    v.foreach {
      case c @ ('.' | '(' | ')' | '[' | ']' | '{' | '}' | '+' | '?' | '^' | '$' | '|' | '\\' | '*') =>
        sb += '\\'; sb += c
      case c => sb += c
    }
    sb.result()
  }

  // fully pushed (the reference deletes the LIMIT node) unless fastLatest,
  // whose results come back unordered
  def partiallyPushed: Boolean = fastLatest

  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    maxResults = limit.toLong
    // ORDER BY timestamp DESC → fastLatest, sort kept (reference :1331-1403);
    // any other TopN pushes the limit but reports "not pushed", so Spark
    // keeps sort + limit (:1405-1411)
    fastLatest = orders.headOption.exists { o =>
      o.direction() == SortDirection.DESCENDING && (o.expression() match {
        case nr: NamedReference => nr.fieldNames().mkString(".").contains("timestamp")
        case _ => false
      })
    }
    fastLatest
  }

  override def pushOffset(offset: Int): Boolean = { this.offset = offset.toLong; true }

  // Spark pushes the COMBINED limit (limit + offset) before the offset;
  // the remote applies the offset first (reference: limit=<n>&offset=<o>)
  private def remoteLimit: Long = if (offset > 0 && maxResults > offset) maxResults - offset else maxResults

  def estimatedRows: Long = remoteLimit

  /** The `fl=` fields. A body fetch needs timestamp + original to build
    * its URL, so they are forced in when response is projected (the
    * reference only fixes the Common Crawl analogue).
    */
  private def fieldsOf(cols: Seq[String]): Seq[String] =
    (cols.flatMap(Wayback.columnToCdxField) ++
      (if (cols.contains("response")) Seq("timestamp", "original") else Nil)).distinct

  private def url(fields: Seq[String], max: Long, at: Long): String =
    CdxUrls.buildWaybackUrl(Option(options.get("cdx_endpoint")).getOrElse(CdxUrls.WaybackEndpoint),
      urlFilter, matchType, fields, cdxFilters, fromDate, toDate, max, collapses, fastLatest, at)

  def description(schema: StructType): String =
    s"wayback_machine ${url(fieldsOf(schema.fieldNames.toSeq), remoteLimit, offset)}"

  def partitions(schema: StructType): Seq[CdxRequest] = {
    val cols = schema.fieldNames.toSeq
    val fetchBodies = cols.contains("response")
    val fields = fieldsOf(cols)
    // cdx_url-only, including fields a collapse covers (reference :510-558)
    val collapseBases = collapses.map(_.split(":").head).toSet
    val cdxUrlOnly = debug && !fetchBodies && fields.forall(collapseBases)
    def request(limit: Long, at: Long): CdxRequest = {
      val u = url(fields, limit, at)
      CdxRequest(u, if (cdxUrlOnly) Nil else Seq(u), CdxUrls.waybackFieldsInOrder(fields),
        Option(options.get("page_endpoint")).getOrElse("https://web.archive.org/web"),
        fetchBodies && !cdxUrlOnly, timeoutSeconds)
    }
    if (partitionCount <= 1 || cdxUrlOnly) Seq(request(remoteLimit, offset))
    else {
      // the LIMIT node is gone, so chunk limits must sum EXACTLY to it
      val chunk = (remoteLimit + partitionCount - 1) / partitionCount
      (0 until partitionCount).flatMap { i =>
        val size = math.min(chunk, remoteLimit - i * chunk)
        if (size <= 0) None else Some(request(size, offset + i * chunk))
      }
    }
  }
}
