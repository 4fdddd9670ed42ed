package graft.sources.iceberg

import java.nio.{ByteBuffer, ByteOrder}
import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import IcebergManifests.DataFileEntry

/** Iceberg table with PLANNING-TIME file pruning from manifest column
  * bounds — the lake-format lever Spark's own parquet source can't
  * provide: row-group stats skip happens only after every file's footer
  * is opened, while Iceberg's `lower_bounds`/`upper_bounds` live in the
  * manifests already read at planning, so a selective filter over a
  * 100 TB table never opens a footer outside its range. (Planning still
  * probes every manifest file's status: the scan's first delegate spans
  * all of them.)
  *
  * Everything after the file-set decision delegates to Spark's own
  * `ParquetScanBuilder` (filter pushdown, column pruning, footer
  * aggregate pushdown, split planning), so the scan behaves exactly
  * like the plain parquet path over the pruned subset.
  */
class IcebergTable(tableName: String, spark: SparkSession, tableSchema: StructType,
                   files: Seq[DataFileEntry], fieldIds: Map[Int, String])
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IcebergScanBuilder(tableName, spark, tableSchema, files, fieldIds, options)
}

private class IcebergScanBuilder(tableName: String, spark: SparkSession,
    tableSchema: StructType, files: Seq[DataFileEntry], fieldIds: Map[Int, String],
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private def delegate(paths: Seq[String]) =
    ParquetTable(tableName, spark, options, paths, Some(tableSchema),
      classOf[ParquetFileFormat]).newScanBuilder(options)

  private var inner = delegate(files.map(_.path))

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val kept = IcebergPruning.prune(files, fieldIds, tableSchema, filters)
    if (kept.length != files.length) inner = delegate(kept.map(_.path))
    inner.pushFilters(filters)
  }

  override def pushedFilters(): Array[Predicate] = inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    inner.pushAggregation(aggregation)

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    inner.supportCompletePushDown(aggregation)

  override def build(): Scan = inner.build()
}

/** File-level predicate evaluation against decoded manifest bounds. A
  * file survives unless some conjunct PROVABLY excludes its whole
  * [lower, upper] range; anything unrecognized (expression shape, type,
  * missing bound) keeps the file — pruning is an optimization, never a
  * correctness gate.
  */
object IcebergPruning {

  def prune(files: Seq[DataFileEntry], fieldIds: Map[Int, String],
            schema: StructType, filters: Seq[Expression]): Seq[DataFileEntry] = {
    val conjuncts = filters.flatMap(splitAnd)
    if (conjuncts.isEmpty) return files
    files.filter { f =>
      val bounds = decodedBounds(f, fieldIds, schema)
      !conjuncts.exists(c => excludes(c, bounds))
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case CatalystAnd(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** column name → (lower, upper), decoded per the spec's single-value
    * binary serialization (little-endian numerics, UTF-8 strings).
    */
  private def decodedBounds(f: DataFileEntry, fieldIds: Map[Int, String],
      schema: StructType): Map[String, (Option[Any], Option[Any])] =
    fieldIds.flatMap { case (id, name) =>
      schema.fields.find(_.name == name).map { field =>
        name -> (f.lowerBounds.get(id).flatMap(decode(_, field.dataType)),
          f.upperBounds.get(id).flatMap(decode(_, field.dataType)))
      }
    }

  private def decode(bytes: Array[Byte], dt: DataType): Option[Any] = dt match {
    case IntegerType | DateType if bytes.length == 4 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt)
    case LongType | TimestampType | TimestampNTZType if bytes.length == 8 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong)
    case FloatType if bytes.length == 4 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat)
    case DoubleType if bytes.length == 8 =>
      Some(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble)
    case StringType => Some(new String(bytes, "UTF-8"))
    case _ => None
  }

  /** Numeric widening + string comparison; None = incomparable (no
    * pruning decision).
    */
  private def cmp(a: Any, b: Any): Option[Int] = (norm(a), norm(b)) match {
    case (x: Long, y: Long)     => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: Long, y: Double)   => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Long)   => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _                      => None
  }

  private def norm(v: Any): Any = v match {
    case i: Int => i.toLong
    case i: java.lang.Integer => i.longValue
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case u: UTF8String => u.toString
    case s: String => s
    case other => other
  }

  /** True iff the conjunct can't match ANY value in [lo, hi]. */
  private def excludes(e: Expression,
      bounds: Map[String, (Option[Any], Option[Any])]): Boolean = {
    def b(attr: String): (Option[Any], Option[Any]) =
      bounds.getOrElse(attr, (None, None))
    e match {
      case EqualTo(AttributeReference(n, _, _, _), Literal(v, _)) if v != null =>
        val (lo, hi) = b(n)
        lo.flatMap(cmp(v, _)).exists(_ < 0) || hi.flatMap(cmp(v, _)).exists(_ > 0)
      case EqualTo(Literal(v, _), a: AttributeReference) =>
        excludes(EqualTo(a, Literal(v, a.dataType)), bounds)
      case GreaterThan(AttributeReference(n, _, _, _), Literal(v, _)) if v != null =>
        b(n)._2.flatMap(cmp(_, v)).exists(_ <= 0) // hi <= v
      case GreaterThanOrEqual(AttributeReference(n, _, _, _), Literal(v, _)) if v != null =>
        b(n)._2.flatMap(cmp(_, v)).exists(_ < 0) // hi < v
      case LessThan(AttributeReference(n, _, _, _), Literal(v, _)) if v != null =>
        b(n)._1.flatMap(cmp(_, v)).exists(_ >= 0) // lo >= v
      case LessThanOrEqual(AttributeReference(n, _, _, _), Literal(v, _)) if v != null =>
        b(n)._1.flatMap(cmp(_, v)).exists(_ > 0) // lo > v
      // literal-on-the-left comparisons: flip
      case GreaterThan(Literal(v, _), a: AttributeReference) =>
        excludes(LessThan(a, Literal(v, a.dataType)), bounds)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
        excludes(LessThanOrEqual(a, Literal(v, a.dataType)), bounds)
      case LessThan(Literal(v, _), a: AttributeReference) =>
        excludes(GreaterThan(a, Literal(v, a.dataType)), bounds)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
        excludes(GreaterThanOrEqual(a, Literal(v, a.dataType)), bounds)
      case In(a: AttributeReference, values) if values.nonEmpty &&
          values.forall { case Literal(v, _) => v != null; case _ => false } =>
        values.forall(v => excludes(EqualTo(a, v.asInstanceOf[Literal]), bounds))
      case _ => false
    }
  }
}
