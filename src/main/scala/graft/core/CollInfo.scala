package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Common Crawl crawl-registry (`collinfo.json`) cache.
  *
  * Reference: /root/reference/src/web_archive_utils.cpp:466-601 — global
  * cache with a 1-day TTL, first entry is the latest crawl, timestamp-range
  * → overlapping crawl ids (crawl.to >= query.from && crawl.from <=
  * query.to; unset bound = 0 matches everything on that side).
  *
  * Driver-side only: crawl-id resolution happens when planning partitions,
  * never on executors.
  */
object CollInfo {

  final case class CrawlInfo(id: String, name: String, fromMicros: Long, toMicros: Long)

  final class Cache(endpoint: String, ttlSeconds: Long = 86400L,
                    fetcher: String => String = defaultFetch) {
    @volatile private var crawls: Seq[CrawlInfo] = Nil
    @volatile private var cachedAtMs: Long = 0L

    private def expired: Boolean =
      crawls.isEmpty || (System.currentTimeMillis() - cachedAtMs) > ttlSeconds * 1000L

    private def refresh(): Unit = synchronized {
      if (expired) {
        val body = fetcher(endpoint)
        val parsed = parseCollInfo(body)
        if (parsed.isEmpty)
          throw new java.io.IOException("collinfo.json parsing failed: no valid entries found")
        crawls = parsed
        cachedAtMs = System.currentTimeMillis()
      }
    }

    def latestCrawlId(): String = { refresh(); crawls.head.id }

    def crawlInfos(): Seq[CrawlInfo] = { refresh(); crawls }

    /** Crawl ids whose [from,to] window overlaps [fromMicros,toMicros];
      * 0 = unset bound.
      */
    def crawlIdsForRange(fromMicros: Long, toMicros: Long): Seq[String] = {
      refresh()
      crawls.filter { c =>
        val afterFrom = fromMicros == 0L || c.toMicros >= fromMicros
        val beforeTo = toMicros == 0L || c.fromMicros <= toMicros
        afterFrom && beforeTo
      }.map(_.id)
    }
  }

  private def defaultFetch(url: String): String =
    Http.send("GET", url).bodyString

  private val mapper = new ObjectMapper()

  /** Parse ISO-8601 `YYYY-MM-DDTHH:MM:SS` → micros since epoch UTC; 0 on
    * malformed (reference: ParseISO8601Timestamp).
    */
  def parseIso8601Micros(s: String): Long = {
    if (s == null || s.length < 19) return 0L
    try {
      val dt = java.time.LocalDateTime.of(
        s.substring(0, 4).toInt, s.substring(5, 7).toInt, s.substring(8, 10).toInt,
        s.substring(11, 13).toInt, s.substring(14, 16).toInt, s.substring(17, 19).toInt)
      dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    } catch { case _: Exception => 0L }
  }

  def parseCollInfo(json: String): Seq[CrawlInfo] = {
    try {
      val root = mapper.readTree(json)
      if (!root.isArray) return Nil
      root.elements().asScala.flatMap { node =>
        val id = Option(node.get("id")).map(_.asText("")).getOrElse("")
        if (id.isEmpty) None
        else Some(CrawlInfo(
          id,
          Option(node.get("name")).map(_.asText("")).getOrElse(""),
          parseIso8601Micros(Option(node.get("from")).map(_.asText("")).getOrElse("")),
          parseIso8601Micros(Option(node.get("to")).map(_.asText("")).getOrElse(""))))
      }.toSeq
    } catch { case _: Exception => Nil }
  }
}
