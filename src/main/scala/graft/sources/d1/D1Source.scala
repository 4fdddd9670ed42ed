package graft.sources.d1

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Codecs, D1Client, Secrets}

/** Cloudflare D1 (SQLite-over-HTTP) connector — the Spark-native
  * `d1_scan` (/root/reference/src/d1_scan.cpp).
  *
  * Usage: `spark.read.format("d1").option("table", "users")
  * .option("secret", "cloudflare").option("database_id", uuid).load()`.
  *
  * Schema is remote-introspected at analysis time via
  * `PRAGMA table_info(<table>)` mapped through SQLite affinity rules
  * (reference :37-64 + d1_http.cpp:723-763). Pushdown builds the same
  * remote SQL: comparison filters + AND conjunctions → WHERE string
  * (:92-232), constant LIMIT → `LIMIT n` with node elimination. A
  * sorted LIMIT (TopN) is not pushed: the remote SQL carries no ORDER
  * BY, so a pushed `LIMIT n` would pick n arbitrary rows before Spark's
  * sort. Projection is applied reader-side (the remote SQL stays
  * `SELECT *`, like the reference).
  *
  * Scale: the D1 REST API is not range-partitionable — one
  * InputPartition, documented; D1 is a dimension-sized source that a real
  * pipeline joins against big parquet facts (broadcast it).
  */
class D1Source extends FetchedTableHandoff with DataSourceRegister {
  override def shortName(): String = "d1"

  override protected def fetch(options: CaseInsensitiveStringMap): Table =
    D1SourceUtil.tableFor(options)
}

/** A provider whose schema inference fetches the remote table: the
  * `getTable` of the same `load()` (or write) takes that table, so the
  * schema is fetched once per load.
  */
private[d1] trait FetchedTableHandoff extends TableProvider {
  protected def fetch(options: CaseInsensitiveStringMap): Table

  private var inferred: Option[Table] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = fetch(options)
    inferred = Some(t)
    t.schema()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val t = inferred.getOrElse(fetch(new CaseInsensitiveStringMap(properties)))
    inferred = None
    t
  }
}

object D1SourceUtil {
  /** [[Secrets.d1Config]] over an option map, which must name a database. */
  def configFrom(options: CaseInsensitiveStringMap): D1Client.Config = {
    val cfg = Secrets.d1Config(k => Option(options.get(k)))
    if (cfg.databaseId.isEmpty)
      throw new IllegalArgumentException("database or database_id required")
    cfg
  }

  /** A Catalyst value of type `dt` → SQLite literal text, for pushed
    * filter values and written rows alike (reference ValueToSQL: strings
    * ''-escaped, booleans 1/0). A TIMESTAMP renders in UTC as SQLite's
    * `datetime()` form, `yyyy-MM-dd HH:mm:ss`, with `.ffffff` only when
    * it has a sub-second part. None for a type with no literal form.
    */
  def sqlLiteral(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (null, _) => Some("NULL")
    case (s: UTF8String, _: StringType) => Some("'" + s.toString.replace("'", "''") + "'")
    case (b: Boolean, BooleanType) => Some(if (b) "1" else "0")
    case (micros: Long, TimestampType) =>
      val t = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      Some("'" + t.format(if (t.getNano == 0) SecondsFormat else MicrosFormat) + "'")
    case (days: Int, DateType) => Some("'" + java.time.LocalDate.ofEpochDay(days.toLong) + "'")
    case (bytes: Array[Byte], BinaryType) => Some("X'" + bytes.map("%02x".format(_)).mkString + "'")
    case (d: Decimal, _: DecimalType) => Some(d.toJavaBigDecimal.toPlainString)
    case (n, _: NumericType) => Some(n.toString)
    case _ => None
  }

  private val SecondsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val MicrosFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def tableFor(options: CaseInsensitiveStringMap): D1ScanTable = {
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("d1 source requires option 'table'"))
    val cfg = configFrom(options)
    new D1ScanTable(cfg, table)
  }

  def affinitySchema(cols: Seq[D1Client.ColumnInfo]): StructType =
    StructType(cols.map(c => StructField(c.name, Codecs.sqliteAffinity(c.tpe))))
}

class D1ScanTable(val config: D1Client.Config, val tableName: String)
    extends Table with SupportsRead with SupportsWrite {

  private lazy val tableSchema: StructType =
    D1SourceUtil.affinitySchema(D1Client.tableColumns(config, tableName))

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new D1ScanBuilder(config, tableName, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new D1WriteBuilder(config, tableName, info.schema())
}

class D1ScanBuilder(config: D1Client.Config, tableName: String, fullSchema: StructType)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {

  private var whereClause = ""
  private var limit: Long = 0L
  private var pushed: Vector[Filter] = Vector.empty
  private var prunedSchema: StructType = fullSchema

  /** A pushed filter value as a literal of its column's type. BLOB
    * values stay unpushed: SQLite never equates a BLOB literal with the
    * TEXT a BLOB-declared column may hold.
    */
  private def lit(c: String, v: Any): Option[String] =
    fullSchema.find(_.name == c).map(_.dataType).filter(_ != BinaryType)
      .flatMap(dt => D1SourceUtil.sqlLiteral(CatalystTypeConverters.convertToCatalyst(v), dt))

  private def toSql(f: Filter): Option[String] = f match {
    // IS [NOT] NULL: Catalyst emits IsNotNull with every comparison;
    // translating keeps the Filter node out of the plan so LIMIT pushdown
    // can reach the scan.
    case IsNull(c) => Some(s"$c IS NULL")
    case IsNotNull(c) => Some(s"$c IS NOT NULL")
    case EqualTo(c, v) => lit(c, v).map(l => s"$c = $l")
    case Not(EqualTo(c, v)) => lit(c, v).map(l => s"$c != $l")
    case GreaterThan(c, v) => lit(c, v).map(l => s"$c > $l")
    case GreaterThanOrEqual(c, v) => lit(c, v).map(l => s"$c >= $l")
    case LessThan(c, v) => lit(c, v).map(l => s"$c < $l")
    case LessThanOrEqual(c, v) => lit(c, v).map(l => s"$c <= $l")
    case And(l, r) =>
      (toSql(l), toSql(r)) match {
        case (Some(a), Some(b)) => Some(s"($a AND $b)")
        case _ => None
      }
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (consumed, residual) = filters.partition(f => toSql(f).isDefined)
    pushed = consumed.toVector
    whereClause = consumed.flatMap(toSql).mkString(" AND ")
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed.toArray

  override def pushLimit(l: Int): Boolean = { limit = l.toLong; true }

  override def pruneColumns(requiredSchema: StructType): Unit = prunedSchema = requiredSchema

  override def build(): Scan =
    new D1Scan(config, tableName, fullSchema, prunedSchema, whereClause, limit)
}

class D1Scan(config: D1Client.Config, tableName: String, fullSchema: StructType,
             prunedSchema: StructType, whereClause: String, limit: Long)
    extends Scan with Batch {

  def remoteSql: String = {
    var sql = s"SELECT * FROM $tableName"
    if (whereClause.nonEmpty) sql += s" WHERE $whereClause"
    if (limit > 0) sql += s" LIMIT $limit"
    sql
  }

  override def readSchema(): StructType = prunedSchema
  override def toBatch: Batch = this
  override def description(): String = s"d1_scan $remoteSql"

  override def planInputPartitions(): Array[InputPartition] =
    Array(D1Partition(config, remoteSql, prunedSchema.json))

  override def createReaderFactory(): PartitionReaderFactory = new D1ReaderFactory()
}

case class D1Partition(config: D1Client.Config, sql: String, schemaJson: String)
    extends InputPartition

class D1ReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[D1Partition]
    new D1PartitionReader(p.config, p.sql,
      DataType.fromJson(p.schemaJson).asInstanceOf[StructType])
  }
}

/** Executor-side reader: one remote query, per-cell string→typed
  * conversion with the reference's semantics (empty string → NULL for
  * every type; unparseable numerics → NULL — d1_scan.cpp:262-303).
  */
class D1PartitionReader(config: D1Client.Config, sql: String, schema: StructType)
    extends PartitionReader[InternalRow] {

  private lazy val rows: Seq[scala.collection.immutable.ListMap[String, String]] =
    D1Client.checkedQuery(config, sql, "D1 query failed").rows
  private var pos = -1

  private def convert(value: String, dt: DataType): Any = dt match {
    case LongType => try java.lang.Long.valueOf(value.trim.toLong) catch { case _: Exception => null }
    case IntegerType => try java.lang.Integer.valueOf(value.trim.toInt) catch { case _: Exception => null }
    case DoubleType => try java.lang.Double.valueOf(value.trim.toDouble) catch { case _: Exception => null }
    case BooleanType => java.lang.Boolean.valueOf(value == "1" || value == "true")
    case DateType =>
      try java.lang.Integer.valueOf(java.time.LocalDate.parse(value.take(10)).toEpochDay.toInt)
      catch { case _: Exception => null }
    case TimestampType =>
      try {
        val norm = value.trim.replace(' ', 'T')
        val withTime = if (norm.length == 10) norm + "T00:00:00" else norm
        val t = java.time.LocalDateTime.parse(withTime.stripSuffix("Z"))
        java.lang.Long.valueOf(
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
      } catch { case _: Exception => null }
    case BinaryType => value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case _ => UTF8String.fromString(value)
  }

  override def next(): Boolean = { pos += 1; pos < rows.length }

  override def get(): InternalRow = {
    val row = rows(pos)
    val values: Array[Any] = schema.fields.map { f =>
      row.get(f.name) match {
        case Some(v) if v.nonEmpty => convert(v, f.dataType)
        case _ => null
      }
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = {}
}
