package graft.sources.d1

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{D1Client, Secrets}

/** Metadata/introspection + imperative surface of the D1 extension:
  *  - `D1.databases(spark, ...)` — reference `d1_databases()`
  *    (src/d1_functions.cpp:200-287): uuid/name/created_at/version/
  *    file_size/num_tables/region
  *  - `D1.tables(spark, ...)` — reference `d1_tables()` (:310-415):
  *    schema/name/type/ncol/writable/strict, internal tables filtered
  *  - `D1.execute(...)` — reference `d1_execute()` scalar (:423-450):
  *    returns meta.changes
  *  - `D1.registerExecuteUdf(spark)` — SQL-surface parity for
  *    `SELECT d1_execute(sql, secret, database_id)`
  *
  * Metadata results are driver-collected (they are O(#tables)) and
  * returned as DataFrames for composability.
  */
object D1 {

  val databasesSchema: StructType = StructType(Seq(
    StructField("uuid", StringType), StructField("name", StringType),
    StructField("created_at", StringType), StructField("version", StringType),
    StructField("file_size", LongType), StructField("num_tables", IntegerType),
    StructField("region", StringType)))

  val tablesSchema: StructType = StructType(Seq(
    StructField("schema", StringType), StructField("name", StringType),
    StructField("type", StringType), StructField("ncol", IntegerType),
    StructField("writable", BooleanType), StructField("strict", BooleanType)))

  private def configOf(secret: Option[String], databaseId: String,
                       apiBase: String): D1Client.Config =
    Secrets.d1Config((Map("database_id" -> databaseId, "api_base" -> apiBase) ++
      secret.map("secret" -> _)).get)

  def databases(spark: SparkSession, secret: Option[String] = None,
                apiBase: String = D1Client.DefaultApiBase): DataFrame =
    databasesDf(spark, configOf(secret, "", apiBase))

  /** Pre-resolved-config form (used by the `d1_databases()` SQL TVF). */
  def databasesDf(spark: SparkSession, cfg: D1Client.Config): DataFrame = {
    val rows = D1Client.listDatabases(cfg).map(d =>
      Row(d.uuid, d.name, d.createdAt, d.version, d.fileSize, d.numTables, d.region))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), databasesSchema)
  }

  def tables(spark: SparkSession, databaseId: String, secret: Option[String] = None,
             apiBase: String = D1Client.DefaultApiBase): DataFrame =
    tablesDf(spark, configOf(secret, databaseId, apiBase))

  /** Pre-resolved-config form (used by the `d1_tables()` SQL TVF). */
  def tablesDf(spark: SparkSession, cfg: D1Client.Config): DataFrame = {
    val rows = D1Client.listTables(cfg).map(t =>
      Row(t.schema, t.name, t.tpe, t.ncol, t.writable, t.strict))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), tablesSchema)
  }

  /** Execute DML/DDL; returns affected-row count (meta.changes).
    * Inside a `BEGIN`/`COMMIT` transaction ([[D1Txn]]) the statement
    * buffers instead and 0 is returned — the change count is unknowable
    * until the batch posts at COMMIT (same contract as
    * [[D1BatchSession.execute]]).
    */
  def execute(sql: String, secret: Option[String], databaseId: String,
              apiBase: String = D1Client.DefaultApiBase): Long = {
    val cfg = configOf(secret, databaseId, apiBase)
    // Task-side, the owning session rides the propagated FlagKey local
    // property (value = session id), so a local-mode task buffers into
    // exactly the session that issued BEGIN; driver-side, the calling
    // thread's session resolves directly.
    val tc = org.apache.spark.TaskContext.get()
    val txnSession: Option[String] =
      if (tc != null) Option(tc.getLocalProperty(D1Txn.FlagKey))
      else Some(D1Txn.currentId)
    txnSession.filter(D1Txn.activeFor) match {
      case Some(id) => D1Txn.buffer(id, cfg, sql); 0L
      case None =>
        // This JVM holds no buffer for the flagged session — on a
        // cluster executor that is exactly what an open DRIVER-side
        // transaction looks like. Fail loudly rather than silently
        // posting inside BEGIN (local mode never trips this: its tasks
        // run in the driver JVM as executorId "driver", where the
        // buffer IS reachable).
        if (tc != null) {
          val env = org.apache.spark.SparkEnv.get
          D1Txn.assertBufferReachable(inTask = true,
            executorId = if (env == null) "driver" else env.executorId,
            txnFlagged = txnSession.isDefined)
        }
        D1Client.checkedQuery(cfg, sql, "D1 execute failed").meta.changes
    }
  }

  def batchSession(secret: Option[String], databaseId: String,
                   apiBase: String = D1Client.DefaultApiBase): D1BatchSession =
    new D1BatchSession(configOf(secret, databaseId, apiBase))

  /** UDF parity for the reference's scalar `d1_execute(sql, secret,
    * database_id) → BIGINT`. Each input row triggers one remote call.
    */
  def registerExecuteUdf(spark: SparkSession,
                         apiBase: String = D1Client.DefaultApiBase): Unit = {
    spark.udf.register("d1_execute",
      (sql: String, secretName: String, databaseId: String) =>
        execute(sql, Some(secretName), databaseId, apiBase))
  }
}
