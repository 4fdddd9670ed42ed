package graft.sources.cdx

import java.util
import java.util.concurrent.CompletableFuture

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Codecs, Http, Warc}

/** The scan core behind both CDX table functions: `format("wayback")`
  * (the reference's `wayback_machine()`, src/internet_archive.cpp) and
  * `format("commoncrawl")` (`common_crawl_index()`,
  * src/common_crawl_index.cpp). The core owns the DSv2 surface, the
  * filter loop, the partition reader and the body prefetch; a
  * [[CdxDialect]] supplies only what differs between the two servers.
  *
  * Pushdown matrix. A consumed predicate leaves the plan; a residual one
  * stays as a Spark Filter above the scan.
  *
  * | predicate                      | wayback                                   | common crawl                                  |
  * |--------------------------------|-------------------------------------------|-----------------------------------------------|
  * | `url_like` option              | `%`→`*` only                              | `%`→`*` and `_`→`?`                           |
  * | url =                          | `url=v` verbatim, matchType exact         | `url=` with `%`→`*`, `_`→`?`                  |
  * | url prefix / suffix            | `url=v*` / `url=*v`                       | same                                          |
  * | url contains                   | residual                                  | `url=*v*`                                     |
  * | url NOT prefix / NOT contains  | `!original:` LIKE-regex / backslash-escaped | `!~url:` anchored regex                     |
  * | status / mime = and !=         | `[!]statuscode:N`, `[!]mimetype:v`        | `=status:N` / `!status:N`, `=mime:` / `!mime:` |
  * | status / mime IN               | `col:(a\|b)`, mime values regex-escaped   | `~field:(a\|b)`, values verbatim              |
  * | prefix / suffix / contains     | urlkey, mimetype (only contains escaped); NOT forms on urlkey | mimetype only, regex-escaped |
  * | crawl_id = / IN                | no such column                            | index selection / one partition per crawl     |
  * | timestamp < <= > >=            | `from=`/`to=`, consumed (remote trusted)  | `from=`/`to=` and collinfo crawl discovery, KEPT residual |
  * | year = < <= > >=               | `from=`/`to=` year prefixes (±1)          | no such column                                |
  * | IS NOT NULL                    | consumed, except response and year/month (consumed once a from/to is pushed) | consumed, except response and warc |
  * | LIMIT                          | `limit=N`, node removed (kept for fastLatest) | `limit=N`; node kept when `partitions` > 1 |
  * | ORDER BY timestamp DESC LIMIT  | `fastLatest=true&limit=-N`, sort kept     | not pushed                                    |
  * | other TopN                     | `limit=N`, sort and limit kept            | not pushed                                    |
  * | OFFSET                         | `offset=N` (limit becomes limit − offset) | not pushed                                    |
  * | `partitions=N`                 | N offset chunks whose limits sum exactly to the limit | page ranges from a `showNumPages` probe, each keeping the whole per-crawl limit; one partition if the probe fails |
  * | crawl_id IN with a LIMIT       | —                                         | limit divided across crawls, rounded up       |
  *
  * `graft.plans.CdxFilterRule` adds the shapes v1 Filters cannot carry
  * (generic LIKE, regexes) through the `pushed_url` and `extra_filters`
  * options; once it claimed the url slot, v1 url predicates stay
  * residual. `graft.plans.CollapseRule` turns wayback DISTINCT ON into the
  * `collapse` option.
  *
  * Debug mode (`debug=true`) adds a `cdx_url` column. When a scan needs
  * nothing but `cdx_url` (wayback: or only collapse-covered fields) it
  * makes no request at all, which makes the URL the golden-output surface.
  */
trait CdxDialect extends Serializable {
  /** The reference's table-function name, used in errors and `Table.name`. */
  def name: String
  def shortName: String
  def allowedOptions: Set[String]
  def schema(debug: Boolean): StructType
  /** Fresh pushdown state for one scan builder. */
  def query(options: CaseInsensitiveStringMap): CdxQuery
  /** The records of one CDX response. */
  def parse(text: String, req: CdxRequest): Iterator[CdxRecord]
  /** The body a record points at. Runs inside the prefetch futures, so
    * decoding (WARC gunzip and parse) stays parallel.
    */
  def body(rec: CdxRecord, req: CdxRequest, startNanos: Long): Warc.WarcResponse
  /** Prefix of the error a failed CDX request raises. */
  def cdxError: String
  /** The error a scan without a URL filter raises. */
  def missingUrl: String

  /** Whether `table` is this dialect's CDX table. */
  def reads(table: Table): Boolean = table match {
    case t: CdxTable => t.dialect == this
    case _ => false
  }
}

/** Pushdown state of one scan builder. The core seeds the shared slots
  * from the options and runs the filter loop; a dialect subclass adds its
  * own state, its consume arms and its partition plan.
  */
abstract class CdxQuery(options: CaseInsensitiveStringMap) {
  val debug: Boolean = options.getBoolean("debug", false)
  // CdxFilterRule's injected pattern wins over the url_like / url options
  var urlFilter: String = Option(options.get("pushed_url"))
    .orElse(Option(options.get("url_like")).map(likeToCdx))
    .orElse(Option(options.get("url"))).getOrElse("*")
  // once CdxFilterRule claimed the url slot (it deleted a complex LIKE from
  // the plan), v1 url predicates stay residual instead of overwriting it
  val urlSlotFrozen: Boolean = options.containsKey("pushed_url")
  // CdxFilterRule's filters (shapes v1 Filters cannot express) arrive as
  // a ';'-joined option
  var cdxFilters: Vector[String] =
    Option(options.get("extra_filters")).toVector.flatMap(_.split(";")).filter(_.nonEmpty)
  var maxResults: Long = options.getLong("max_results", 100L)
  var limitPushed = false
  val timeoutSeconds: Int = options.getInt("timeout", 180)
  val partitionCount: Int = options.getInt("partitions", 1)

  /** The `url_like` option in CDX wildcard spelling. */
  protected def likeToCdx(like: String): String
  /** Columns whose IS NOT NULL stays residual. */
  def nullable: Set[String]
  /** The dialect's arms: true when the remote applies `f` exactly. */
  def consume(f: Filter): Boolean
  /** Derived columns whose IS NOT NULL a pushed time range implies; the
    * core decides them after every other filter.
    */
  def impliedNotNull: Set[String] = Set.empty
  def rangePushed: Boolean = false
  def partiallyPushed: Boolean
  def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = false
  def pushOffset(offset: Int): Boolean = false

  def description(schema: StructType): String
  def estimatedRows: Long
  /** One request per input partition. */
  def partitions(schema: StructType): Seq[CdxRequest]

  protected def filter(cdxFilter: String): Boolean = { cdxFilters :+= cdxFilter; true }

  protected def intOf(v: Any): Int = v match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case other => other.toString.toInt
  }
}

/** One partition's resolved work, shipped to an executor. */
final case class CdxRequest(
    cdxUrl: String,            // the debug cdx_url value
    pages: Seq[String],        // CDX requests in order; empty: cdx_url-only, no network
    fields: Seq[String],       // CDX fields in response order (positional formats)
    bodyEndpoint: String,
    fetchBodies: Boolean,
    timeoutSeconds: Int,
    crawlId: String = "",
    cap: Long = Long.MaxValue) // paging stops, and records are trimmed, at this many

/** One CDX line under the Spark column names. */
final case class CdxRecord(
    url: String = "", timestamp: String = "", urlkey: String = "", mimetype: String = "",
    statuscode: Int = 0, digest: String = "", filename: String = "",
    offset: Long = 0L, length: Long = 0L)

object CdxRecord {
  // empty, "-" or malformed numeric fields read as 0
  def int(v: String): Int =
    if (v.isEmpty || v == "-") 0 else try v.toInt catch { case _: NumberFormatException => 0 }
  def long(v: String): Long =
    if (v.isEmpty || v == "-") 0L else try v.toLong catch { case _: NumberFormatException => 0L }
}

abstract class CdxSource(dialect: CdxDialect) extends TableProvider with DataSourceRegister {
  override def shortName(): String = dialect.shortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    CdxOptions.validate(dialect.name, options, dialect.allowedOptions)
    dialect.schema(options.getBoolean("debug", false))
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CdxTable(dialect, new CaseInsensitiveStringMap(properties))
}

final class CdxTable(val dialect: CdxDialect, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = dialect.name
  override def schema(): StructType = dialect.schema(options.getBoolean("debug", false))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(scanOptions)
    new CdxScanBuilder(dialect, new CaseInsensitiveStringMap(merged))
  }
}

final class CdxScanBuilder(dialect: CdxDialect, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownOffset {

  private val q = dialect.query(options)
  private var pushed: Vector[Filter] = Vector.empty
  private var prunedSchema: StructType = dialect.schema(q.debug)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (implied, rest) = filters.partition {
      case IsNotNull(c) => q.impliedNotNull(c)
      case _ => false
    }
    val residual = rest.filterNot(tryConsume)
    if (q.rangePushed) { pushed ++= implied; residual } else residual ++ implied
  }

  override def pushedFilters(): Array[Filter] = pushed.toArray

  private def tryConsume(f: Filter): Boolean = {
    val consumed = f match {
      case EqualTo("url", _) | StringStartsWith("url", _) | StringEndsWith("url", _) |
           StringContains("url", _) if q.urlSlotFrozen => false
      // consumed only if both sides are (the reference flattens ANDs)
      case And(l, r) =>
        val lc = tryConsume(l); val rc = tryConsume(r)
        lc && rc
      // Catalyst adds IsNotNull next to every pushed comparison, and scalar
      // CDX columns are never null; leaving it residual would pull the
      // column into the scan and defeat the cdx_url-only path and the limit
      case IsNotNull(c) => !q.nullable(c)
      case other => q.consume(other)
    }
    if (consumed) pushed :+= f
    consumed
  }

  override def pushLimit(limit: Int): Boolean = {
    q.maxResults = limit.toLong
    q.limitPushed = true
    true
  }

  override def isPartiallyPushed: Boolean = q.partiallyPushed

  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = q.pushTopN(orders, limit)

  override def pushOffset(offset: Int): Boolean = q.pushOffset(offset)

  override def pruneColumns(requiredSchema: StructType): Unit = prunedSchema = requiredSchema

  override def build(): Scan = new CdxScan(dialect, q, prunedSchema)
}

final class CdxScan(dialect: CdxDialect, q: CdxQuery, schema: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = q.description(schema)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.empty()
    override def numRows(): util.OptionalLong = util.OptionalLong.of(q.estimatedRows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (q.urlFilter == "*" || q.urlFilter.isEmpty)
      throw new IllegalArgumentException(dialect.missingUrl)
    q.partitions(schema).map(CdxPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new CdxReaderFactory(dialect, schema)
}

final case class CdxPartition(req: CdxRequest) extends InputPartition

final class CdxReaderFactory(dialect: CdxDialect, schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdxReader(dialect, schema, partition.asInstanceOf[CdxPartition].req)
}

/** Executor side: the CDX records are fetched on the first row, and
  * bodies in parallel windows of 64 rows (the Spark analogue of the
  * reference's per-chunk std::async prefetch, src/internet_archive.cpp:582-605).
  * Only the current window's bodies stay reachable.
  */
final class CdxReader(dialect: CdxDialect, schema: StructType, req: CdxRequest)
    extends PartitionReader[InternalRow] {

  private val Window = 64
  private val startNanos = System.nanoTime()
  private lazy val records: IndexedSeq[CdxRecord] = fetchRecords()
  private var pos = -1
  private var windowStart = 0
  private var window = Array.empty[Warc.WarcResponse]

  private def fetchRecords(): IndexedSeq[CdxRecord] =
    if (req.pages.isEmpty) IndexedSeq(CdxRecord(timestamp = "202501010000"))
    else {
      val out = IndexedSeq.newBuilder[CdxRecord]
      var n = 0L
      val pages = req.pages.iterator
      while (pages.hasNext && n < req.cap) {
        val recs = fetchPage(pages.next())
        out ++= recs
        n += recs.length
      }
      val all = out.result()
      if (all.length > req.cap) all.take(req.cap.toInt) else all
    }

  private def fetchPage(url: String): IndexedSeq[CdxRecord] = {
    val resp = Http.send("GET", url, timeoutSeconds = 60)
    if (resp.status >= 400)
      throw new java.io.IOException(s"${dialect.cdxError}: HTTP ${resp.status}")
    dialect.parse(Codecs.sanitizeUtf8(resp.body), req).toIndexedSeq
  }

  private def bodyAt(idx: Int): Warc.WarcResponse = {
    if (idx < windowStart || idx >= windowStart + window.length) {
      val fetches = (idx until math.min(idx + Window, records.length)).map { i =>
        CompletableFuture.supplyAsync(() => dialect.body(records(i), req, startNanos))
      }
      window = fetches.map(_.join()).toArray
      windowStart = idx
    }
    window(idx - windowStart)
  }

  private def str(s: String): UTF8String = UTF8String.fromString(Codecs.sanitizeUtf8(s))

  private def mapData(m: Map[String, String]): ArrayBasedMapData =
    new ArrayBasedMapData(new GenericArrayData(m.keys.map(str).toArray[Any]),
      new GenericArrayData(m.values.map(str).toArray[Any]))

  // malformed (non-numeric) remote timestamps yield NULL, never a task failure
  private def tsPart(ts: String, from: Int, until: Int): Any =
    if (ts.length >= until)
      try java.lang.Integer.valueOf(ts.substring(from, until).toInt)
      catch { case _: NumberFormatException => null }
    else null

  /** A body struct (warc or response) over whichever of its fields the
    * scan kept.
    */
  private def struct(column: String, t: StructType, w: Warc.WarcResponse): InternalRow =
    new GenericInternalRow(t.fieldNames.map[Any] {
      case "body" => w.body
      case "error" => if (w.error.isEmpty) null else UTF8String.fromString(w.error)
      case "version" => UTF8String.fromString(w.warcVersion)
      case "http_version" => UTF8String.fromString(w.httpVersion)
      case "headers" => mapData(if (column == "warc") w.warcHeaders else w.httpHeaders)
      case _ => null
    })

  override def next(): Boolean = { pos += 1; pos < records.length }

  override def get(): InternalRow = {
    val rec = records(pos)
    new GenericInternalRow(schema.fields.map[Any] { f =>
      f.name match {
        case "url"        => str(rec.url)
        case "timestamp"  => java.lang.Long.valueOf(Codecs.parseCdxTimestampMicros(rec.timestamp))
        case "urlkey"     => str(rec.urlkey)
        case "mimetype"   => str(rec.mimetype)
        case "statuscode" => java.lang.Integer.valueOf(rec.statuscode)
        case "digest"     => str(rec.digest)
        case "filename"   => str(rec.filename)
        case "offset"     => java.lang.Long.valueOf(rec.offset)
        case "length"     => java.lang.Long.valueOf(rec.length)
        case "crawl_id"   => UTF8String.fromString(req.crawlId)
        case "year"       => tsPart(rec.timestamp, 0, 4)
        case "month"      => tsPart(rec.timestamp, 4, 6)
        case "cdx_url"    => UTF8String.fromString(req.cdxUrl)
        case column => f.dataType match {
          case t: StructType if req.fetchBodies => struct(column, t, bodyAt(pos))
          case _ => null
        }
      }
    })
  }

  override def close(): Unit = {}
}
