package graft.sources.iceberg

import java.util
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

import graft.core.Secrets

/** Read-only Spark `TableCatalog` over the Iceberg REST catalog
  * protocol (the open API R2 SQL's catalog speaks) — the "real lake"
  * path SURVEY §7 leaves optional beyond the reference's 1-row JSON
  * passthrough (r2_functions.cpp:18-65).
  *
  * Wiring:
  * {{{
  * spark.sql.catalog.lake       = graft.sources.iceberg.IcebergRestCatalog
  * spark.sql.catalog.lake.uri   = https://catalog.cloudflarestorage.com/<acct>/<bucket>
  * spark.sql.catalog.lake.token = <bearer>     (or `secret = <r2_sql secret name>`)
  * -- then:  SELECT … FROM lake.ns.tbl
  * }}}
  *
  * `loadTable` resolves namespace/table → table metadata (inline in the
  * LoadTableResult or fetched from `metadata-location`) → snapshot
  * (current, or `VERSION AS OF <id>`) → manifest list → data files with
  * their column bounds, and returns an [[IcebergTable]]: manifest-bounds
  * file pruning at planning time, then Spark's own parquet machinery
  * (filter pushdown, column pruning, row-group skipping, split
  * planning) over the surviving files — against `r2://` paths the
  * byte-ranged `R2FileSystem` serves them. Scan parallelism is Spark's
  * (one task per split), not one HTTP query per table.
  *
  * Read-only by design, like `R2FileSystem`: every mutation entry point
  * throws. Snapshot resolution is per-`loadTable` call, so a query sees
  * one consistent snapshot (Iceberg's serializable-read guarantee) and
  * a re-run sees the latest commit.
  */
class IcebergRestCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var uri: String = _
  private var token: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    uri = Option(options.get("uri")).map(_.stripSuffix("/")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.uri must be set (Iceberg REST catalog endpoint)"))
    token = Option(options.get("token"))
      .orElse(Option(options.get("secret")).map { s =>
        Secrets.lookup("r2_sql", s).getOrElse(throw new IllegalArgumentException(
          s"unknown r2_sql secret '$s' for catalog $name")).apiToken
      })
      .getOrElse("")
  }

  override def name(): String = catalogName

  private def getJson(path: String): JsonNode = Iceberg.getJson(uri, token, path)

  // ---- namespaces ----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val node = getJson("/v1/namespaces")
    Option(node.get("namespaces")).toArray
      .flatMap(_.elements().asScala)
      .map(ns => ns.elements().asScala.map(_.asText).toArray)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else listNamespaces().filter(ns =>
      ns.length > namespace.length && ns.startsWith(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    listNamespaces().exists(_.sameElements(namespace))

  // ---- tables --------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val node = getJson(s"/v1/namespaces/${Iceberg.namespacePath(namespace.toSeq)}/tables")
    Option(node.get("identifiers")).toArray
      .flatMap(_.elements().asScala)
      .map { id =>
        val ns = Option(id.get("namespace")).toSeq
          .flatMap(_.elements().asScala).map(_.asText).toArray
        Identifier.of(ns, id.get("name").asText)
      }
  }

  override def tableExists(ident: Identifier): Boolean =
    try { Iceberg.loadTableResult(uri, token, ident.namespace().toSeq, ident.name()); true }
    catch { case _: NoSuchTableException => false }

  override def loadTable(ident: Identifier): Table = loadTableAt(ident, None)

  /** Time travel: `SELECT … FROM lake.ns.tbl VERSION AS OF <snapshot-id>`. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadTableAt(ident, Some(
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"VERSION AS OF for catalog $catalogName takes an Iceberg snapshot id, got '$version'")
      }))

  // copy-on-write read path: delete manifests fail in-band (a DSv2
  // Table can't express the delete anti-joins); the Iceberg.read
  // DataFrame API serves merge-on-read tables
  private def loadTableAt(ident: Identifier, snapshotId: Option[Long]): Table = {
    val spark = SparkSession.active
    val r = Iceberg.resolve(spark, uri, token, ident.namespace().toSeq, ident.name(),
      snapshotId, copyOnWrite = true)
    new IcebergTable(
      s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}",
      spark, r.meta.schema, r.data, r.meta.fieldIds)
  }

  // ---- mutations: rejected (read-only surface, R2FileSystem posture) --

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"Iceberg REST catalog '$catalogName' is read-only: $op is not supported")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    readOnly("CREATE TABLE")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly("ALTER TABLE")

  override def dropTable(ident: Identifier): Boolean = readOnly("DROP TABLE")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly("CREATE NAMESPACE")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly("DROP NAMESPACE")
}
