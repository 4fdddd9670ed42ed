package graft.sources.d1

import java.util

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}

import graft.core.D1Client

/** ATTACH-parity: `spark.sql.catalog.mydb = graft.sources.d1.D1Catalog`
  * (+ `.database`, `.secret`, `.api_base` options, resolved like the
  * `d1` source's — [[graft.core.Secrets.d1Config]]) exposes a remote D1
  * database as a Spark catalog — `SELECT * FROM mydb.main.users`.
  *
  * Where the reference eagerly materializes one DuckDB view per remote
  * table at ATTACH time (src/d1_storage.cpp:70-95), a Spark TableCatalog
  * resolves lazily: `loadTable` probes `PRAGMA table_info` on demand.
  * Name→UUID resolution uses the same 36-char heuristic (:75). DDL/DML
  * through the catalog is rejected, as in the reference (:39-57) — writes
  * go through `d1_execute`/`D1BatchSession`/`df.write.format("d1")`.
  */
class D1Catalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var config: D1Client.Config = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    config = D1SourceUtil.configFrom(options)
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("main")

  override def listNamespaces(): Array[Array[String]] = Array(Array("main"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespace.sameElements(Array("main"))) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("main"))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("D1 catalog does not support CREATE NAMESPACE")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("D1 catalog does not support ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("D1 catalog does not support DROP NAMESPACE")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    D1Client.listTables(config).map(t => Identifier.of(Array("main"), t.name)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    try {
      val t = new D1ScanTable(config, ident.name())
      // force schema resolution so missing tables fail at load, not later;
      // PRAGMA table_info on a nonexistent table succeeds with ZERO rows,
      // so an empty schema is the real missing-table signal
      if (t.schema().isEmpty) throw new NoSuchTableException(ident)
      t
    } catch {
      case _: java.io.IOException => throw new NoSuchTableException(ident)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "D1 catalog is read-only through the planner; use d1_execute for DDL")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("D1 catalog does not support ALTER TABLE")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "D1 catalog is read-only through the planner; use d1_execute for DDL")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("D1 catalog does not support RENAME TABLE")
}
