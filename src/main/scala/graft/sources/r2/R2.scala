package graft.sources.r2

import java.net.http.HttpRequest
import java.util

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Http, Secrets}

/** R2 SQL passthrough surface (reference src/r2_functions.cpp,
  * src/r2_http.cpp): POST `{"query": sql}` to
  * `api.sql.cloudflarestorage.com/api/v1/accounts/<acct>/r2-sql/query/
  * <bucket>`, 60 s timeout; every function returns 1 row × 1 VARCHAR
  * column holding the raw JSON response:
  *  - r2_sql_query     → column `response`
  *  - r2_sql_databases → `namespace` (SHOW DATABASES)
  *  - r2_sql_tables    → `table_name` (SHOW TABLES [IN ns])
  *  - r2_sql_describe  → `schema` (DESCRIBE t)
  *
  * This passthrough is the parity surface. The NATIVE R2 table path is
  * [[R2FileSystem]]: `spark.read.parquet("r2://bucket/prefix")` scans
  * R2-hosted parquet through Spark's own source with full pushdown and
  * byte-ranged reads (Iceberg-on-R2 would layer iceberg-spark-runtime's
  * REST catalog on the same filesystem).
  */
object R2 {

  /** The R2 SQL API base every passthrough surface defaults to. */
  val DefaultApiBase = "https://api.sql.cloudflarestorage.com"

  case class Config(accountId: String, apiToken: String, bucket: String,
                    apiBase: String = DefaultApiBase) {
    def queryUrl: String = s"$apiBase/api/v1/accounts/$accountId/r2-sql/query/$bucket"
  }

  private val mapper = new ObjectMapper()

  def query(config: Config, sql: String): String = {
    val body = mapper.createObjectNode()
    body.put("query", sql)
    val resp = Http.send("POST", config.queryUrl,
      Http.JsonContent + ("Authorization" -> s"Bearer ${config.apiToken}"),
      Some(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body))),
      timeoutSeconds = 60)
    if (resp.status < 200 || resp.status >= 300)
      throw new java.io.IOException(
        s"HTTP request failed with status ${resp.status}: ${resp.bodyString}")
    val raw = resp.bodyString
    if (!raw.contains("\"results\""))
      throw new java.io.IOException("R2 SQL query failed: Invalid response format: missing 'results' field")
    raw
  }

  /** One passthrough function: its result column, the `r2sql` option
    * holding its argument, and the SQL it sends for that argument.
    */
  private[r2] final case class Passthrough(column: String, argOption: Option[String],
                                           sql: Option[String] => String)

  private val functions = Map(
    "query" -> Passthrough("response", Some("query"), _.getOrElse(
      throw new IllegalArgumentException("r2sql requires option 'query'"))),
    "databases" -> Passthrough("namespace", None, _ => "SHOW DATABASES"),
    "tables" -> Passthrough("table_name", Some("namespace"),
      _.filter(_.nonEmpty).fold("SHOW TABLES")(ns => s"SHOW TABLES IN $ns")),
    "describe" -> Passthrough("schema", Some("table"), t => s"DESCRIBE ${t.orNull}"))

  /** The named function; any other name is `query`. */
  private[r2] def function(name: String): Passthrough = functions.getOrElse(name, functions("query"))

  /** Run one passthrough function against `bucket` with the `r2_sql`
    * secret `secret`; returns the raw JSON response.
    */
  private[r2] def call(spark: SparkSession, name: String, secret: String, bucket: String,
                       arg: Option[String], apiBase: String): String = {
    val sql = function(name).sql(arg)
    val s = Secrets.lookup("r2_sql", secret, k => spark.conf.getOption(k)).getOrElse(
      throw new IllegalArgumentException(s"r2_sql secret '$secret' not found"))
    query(Config(s.accountId, s.apiToken, bucket, apiBase), sql)
  }

  /** Eager form: one row × one VARCHAR column holding the response. */
  private def eager(spark: SparkSession, name: String, secret: String, bucket: String,
                    arg: Option[String], apiBase: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(call(spark, name, secret, bucket, arg, apiBase))), 1),
      StructType(Seq(StructField(function(name).column, StringType))))

  def sqlQuery(spark: SparkSession, secret: String, bucket: String, sql: String,
               apiBase: String = DefaultApiBase): DataFrame =
    eager(spark, "query", secret, bucket, Some(sql), apiBase)

  def databases(spark: SparkSession, secret: String, bucket: String,
                apiBase: String = DefaultApiBase): DataFrame =
    eager(spark, "databases", secret, bucket, None, apiBase)

  def tables(spark: SparkSession, secret: String, bucket: String, namespace: String = "",
             apiBase: String = DefaultApiBase): DataFrame =
    eager(spark, "tables", secret, bucket, Some(namespace), apiBase)

  def describe(spark: SparkSession, secret: String, bucket: String, table: String,
               apiBase: String = DefaultApiBase): DataFrame =
    eager(spark, "describe", secret, bucket, Some(table), apiBase)
}

/** DSv2 form: `spark.read.format("r2sql").option("secret", ...)
  * .option("bucket", ...).option("query", sql).load()`.
  */
class R2SqlSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "r2sql"

  private def functionName(options: CaseInsensitiveStringMap): String =
    Option(options.get("function")).getOrElse("query")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(Seq(StructField(R2.function(functionName(options)).column, StringType)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new Table with SupportsRead {
      override def name(): String = "r2_sql_" + functionName(options)
      override def schema(): StructType = inferSchema(options)
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () =>
        new Scan with Batch {
          private val out = schema()
          override def readSchema(): StructType = out
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] = {
            val secret = Option(options.get("secret")).getOrElse(
              throw new IllegalArgumentException("r2sql requires option 'secret'"))
            val bucket = Option(options.get("bucket")).getOrElse(
              throw new IllegalArgumentException("r2sql requires option 'bucket'"))
            val fn = functionName(options)
            Array(R2Partition(R2.call(org.apache.spark.sql.SparkSession.active, fn, secret, bucket,
              R2.function(fn).argOption.flatMap(k => Option(options.get(k))),
              Option(options.get("api_base")).getOrElse(R2.DefaultApiBase))))
          }
          override def createReaderFactory(): PartitionReaderFactory =
            (partition: InputPartition) => new PartitionReader[InternalRow] {
              private var done = false
              override def next(): Boolean = { val r = !done; done = true; r }
              override def get(): InternalRow = new GenericInternalRow(
                Array[Any](UTF8String.fromString(partition.asInstanceOf[R2Partition].raw)))
              override def close(): Unit = {}
            }
        }
    }
  }
}

case class R2Partition(raw: String) extends InputPartition
