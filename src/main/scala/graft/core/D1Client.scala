package graft.core

import java.net.http.HttpRequest
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import scala.collection.immutable.ListMap

/** Cloudflare D1 REST client — semantics of the reference's hand-rolled
  * HTTP/JSON layer, re-expressed over a real JSON parser.
  *
  * Reference: /root/reference/src/d1_http.cpp
  *  - query endpoint:   /root/reference/src/include/d1_extension.hpp:31-34
  *  - row parse (column order from first row, null→NULL, true/false→"1"/"0",
  *    numbers kept as raw strings): :233-325
  *  - response+meta parse: :328-413
  *  - batch (array body on query endpoint, per-statement results): :448-547
  *  - list databases: :549-604 ; table_list/table_info: :616-714
  *
  * All calls are driver-side metadata probes or executor-side scans against
  * a non-partitionable REST API; the client itself is stateless.
  */
object D1Client {

  /** The Cloudflare v4 API base every D1 surface defaults to. */
  val DefaultApiBase = "https://api.cloudflare.com/client/v4"

  final case class Config(
      accountId: String,
      apiToken: String,
      databaseId: String = "",
      apiBase: String = DefaultApiBase) {
    def queryUrl: String = s"$apiBase/accounts/$accountId/d1/database/$databaseId/query"
    def listDatabasesUrl: String = s"$apiBase/accounts/$accountId/d1/database"
  }

  final case class Meta(changes: Long = 0L, lastRowId: Long = 0L, rowsRead: Long = 0L,
                        rowsWritten: Long = 0L, servedByRegion: String = "")

  /** One query result: rows as (ordered) name→string-value maps. A value of
    * `null` in the map means SQL NULL; JSON null and absent keys both map to
    * NULL downstream (the reference stores "" and emits NULL for empty).
    */
  final case class QueryResult(
      success: Boolean,
      columnOrder: Seq[String],
      rows: Seq[ListMap[String, String]],
      meta: Meta,
      error: String)

  final case class DatabaseInfo(uuid: String, name: String, createdAt: String,
                                version: String, fileSize: Long, numTables: Int, region: String)

  final case class TableInfo(schema: String, name: String, tpe: String, ncol: Int,
                             writable: Boolean, strict: Boolean)

  final case class ColumnInfo(cid: Int, name: String, tpe: String, notnull: Boolean, pk: Boolean)

  private val mapper = new ObjectMapper()

  /** JSON scalar → the reference's string coercion: null→"", true→"1",
    * false→"0", numbers → literal text, strings as-is.
    */
  private def coerce(v: JsonNode): String = {
    if (v == null || v.isNull) ""
    else if (v.isBoolean) { if (v.asBoolean()) "1" else "0" }
    else if (v.isTextual) v.asText()
    else v.asText() // numbers: Jackson preserves the literal via asText
  }

  private def parseRows(resultsArr: JsonNode): (Seq[String], Seq[ListMap[String, String]]) = {
    var columnOrder = Vector.empty[String]
    val rows = Vector.newBuilder[ListMap[String, String]]
    if (resultsArr != null && resultsArr.isArray) {
      resultsArr.elements().asScala.foreach { rowNode =>
        if (rowNode.isObject) {
          var row = ListMap.empty[String, String]
          rowNode.properties().asScala.foreach { e =>
            val k = e.getKey
            if (!columnOrder.contains(k)) columnOrder :+= k
            row += (k -> coerce(e.getValue))
          }
          if (row.nonEmpty) rows += row
        }
      }
    }
    (columnOrder, rows.result())
  }

  private def parseMeta(metaNode: JsonNode): Meta = {
    if (metaNode == null) Meta()
    else Meta(
      changes = Option(metaNode.get("changes")).map(_.asLong(0L)).getOrElse(0L),
      lastRowId = Option(metaNode.get("last_row_id")).map(_.asLong(0L)).getOrElse(0L),
      rowsRead = Option(metaNode.get("rows_read")).map(_.asLong(0L)).getOrElse(0L),
      rowsWritten = Option(metaNode.get("rows_written")).map(_.asLong(0L)).getOrElse(0L),
      servedByRegion = Option(metaNode.get("served_by_region")).map(_.asText("")).getOrElse(""))
  }

  private def firstError(root: JsonNode): String = {
    val errs = root.get("errors")
    if (errs != null && errs.isArray && errs.size() > 0) {
      Option(errs.get(0).get("message")).map(_.asText("")).getOrElse("")
    } else ""
  }

  /** Parse the full D1 `/query` response:
    * `{success, errors:[...], result:[{results:[...], meta:{...}}]}`.
    */
  def parseQueryResponse(body: String): QueryResult = {
    val root = mapper.readTree(body)
    val success = Option(root.get("success")).exists(_.asBoolean(false))
    val error = firstError(root)
    if (!success && error.nonEmpty)
      return QueryResult(success = false, Nil, Nil, Meta(), error)
    // result may be an array of result objects or a bare object
    val resultNode = root.get("result")
    val inner: JsonNode =
      if (resultNode == null) root
      else if (resultNode.isArray && resultNode.size() > 0) resultNode.get(0)
      else resultNode
    val (cols, rows) = parseRows(if (inner != null) inner.get("results") else null)
    val meta = parseMeta(if (inner != null) inner.get("meta") else null)
    QueryResult(success, cols, rows, meta, error)
  }

  private def authHeaders(config: Config): Map[String, String] =
    Map("Authorization" -> s"Bearer ${config.apiToken}")

  def executeQuery(config: Config, sql: String, params: Seq[String] = Nil): QueryResult = {
    val bodyNode = mapper.createObjectNode()
    bodyNode.put("sql", sql)
    if (params.nonEmpty) {
      val arr = bodyNode.putArray("params")
      params.foreach(arr.add)
    }
    val resp = Http.send("POST", config.queryUrl, Http.JsonContent ++ authHeaders(config),
      Some(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(bodyNode))))
    parseQueryResponse(resp.bodyString)
  }

  /** [[executeQuery]] that throws `IOException("<failure>: <error>")`
    * when D1 reports the statement failed.
    */
  def checkedQuery(config: Config, sql: String, failure: String): QueryResult = {
    val res = executeQuery(config, sql)
    if (!res.success) throw new java.io.IOException(s"$failure: ${res.error}")
    res
  }

  /** Batch: one POST to the query endpoint with `[{"sql":...},...]`;
    * per-statement results. Partial remote commit on failure is possible
    * (D1 auto-commits statement-by-statement) — same non-ACID semantics as
    * the reference documents.
    */
  def executeBatch(config: Config, statements: Seq[String]): Seq[QueryResult] = {
    if (statements.isEmpty) return Nil
    val arr = mapper.createArrayNode()
    statements.foreach { s =>
      val o = mapper.createObjectNode(); o.put("sql", s); arr.add(o)
    }
    val resp = Http.send("POST", config.queryUrl, Http.JsonContent ++ authHeaders(config),
      Some(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(arr))))
    val root = mapper.readTree(resp.bodyString)
    val success = Option(root.get("success")).exists(_.asBoolean(false))
    val err = firstError(root)
    val resultNode = root.get("result")
    if (resultNode != null && resultNode.isArray) {
      resultNode.elements().asScala.map { inner =>
        val innerSuccess = Option(inner.get("success")).map(_.asBoolean(success)).getOrElse(success)
        val (cols, rows) = parseRows(inner.get("results"))
        QueryResult(innerSuccess, cols, rows, parseMeta(inner.get("meta")), err)
      }.toSeq
    } else Seq(QueryResult(success, Nil, Nil, Meta(), err))
  }

  def listDatabases(config: Config): Seq[DatabaseInfo] = {
    val resp = Http.send("GET", config.listDatabasesUrl, authHeaders(config))
    val root = mapper.readTree(resp.bodyString)
    val resultNode = root.get("result")
    if (resultNode == null || !resultNode.isArray) return Nil
    resultNode.elements().asScala.flatMap { n =>
      val uuid = Option(n.get("uuid")).map(_.asText("")).getOrElse("")
      if (uuid.isEmpty) None
      else Some(DatabaseInfo(
        uuid,
        Option(n.get("name")).map(_.asText("")).getOrElse(""),
        Option(n.get("created_at")).map(_.asText("")).getOrElse(""),
        Option(n.get("version")).map(_.asText("")).getOrElse(""),
        Option(n.get("file_size")).map(_.asLong(0L)).getOrElse(0L),
        Option(n.get("num_tables")).map(_.asInt(0)).getOrElse(0),
        Option(n.get("created_in_region")).map(_.asText("")).getOrElse("")))
    }.toSeq
  }

  def databaseIdByName(config: Config, name: String): String =
    listDatabases(config).find(_.name == name).map(_.uuid)
      .getOrElse(throw new java.io.IOException(s"D1 database not found: $name"))

  /** `PRAGMA table_list`, filtered to user tables in `main` (drops `_*`
    * names and `sqlite_schema`).
    */
  def listTables(config: Config): Seq[TableInfo] = {
    checkedQuery(config, "PRAGMA table_list", "Failed to get table list").rows.map { row =>
      TableInfo(
        row.getOrElse("schema", ""), row.getOrElse("name", ""), row.getOrElse("type", ""),
        try row.getOrElse("ncol", "0").toInt catch { case _: Exception => 0 },
        row.getOrElse("wr", "") == "1", row.getOrElse("strict", "") == "1")
    }.filter(t => t.schema == "main" && t.name.nonEmpty && !t.name.startsWith("_") &&
      t.name != "sqlite_schema")
  }

  def tableColumns(config: Config, tableName: String): Seq[ColumnInfo] = {
    checkedQuery(config, s"PRAGMA table_info($tableName)", "Failed to get table columns").rows.map { row =>
      ColumnInfo(
        try row.getOrElse("cid", "0").toInt catch { case _: Exception => 0 },
        row.getOrElse("name", ""), row.getOrElse("type", ""),
        row.getOrElse("notnull", "") == "1", row.getOrElse("pk", "") == "1")
    }
  }
}
