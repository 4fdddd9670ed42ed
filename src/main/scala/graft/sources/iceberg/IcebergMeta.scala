package graft.sources.iceberg

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Iceberg table-metadata parsing (Apache Iceberg Table Spec, v1+v2) —
  * the `vN.metadata.json` document: format version, schemas, snapshots
  * and the manifest-list each points at. Only the read-path subset is
  * modeled; everything else in the document is ignored.
  *
  * This is the "real lake" layer SURVEY §7 marks optional for the R2
  * surface (the reference ships only the 1-row JSON passthrough,
  * r2_functions.cpp:18-65): R2 SQL's storage engine is Iceberg on R2,
  * so an engine that reads the open table format directly — REST
  * catalog + metadata + manifests + its own parquet scan — queries the
  * same data lake natively at full scan parallelism.
  */
object IcebergMeta {

  final case class Snapshot(id: Long, manifestList: String)

  final case class TableMeta(
      formatVersion: Int,
      location: String,
      schema: StructType,
      currentSnapshotId: Option[Long],
      snapshots: Map[Long, Snapshot],
      fieldIds: Map[Int, String]) {
    def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshots.get)
  }

  def parseNode(root: JsonNode): TableMeta = {
    val fv = Option(root.get("format-version")).map(_.asInt).getOrElse(1)
    require(fv == 1 || fv == 2,
      s"unsupported Iceberg format-version $fv (supported: 1, 2)")
    val location = Option(root.get("location")).map(_.asText).getOrElse("")
    // v2: schemas[] + current-schema-id; v1: a single inline schema
    val schemaNode = Option(root.get("schemas")) match {
      case Some(arr) if arr.isArray && arr.size() > 0 =>
        val cur = Option(root.get("current-schema-id")).map(_.asInt).getOrElse(0)
        arr.elements().asScala.find(s =>
          Option(s.get("schema-id")).exists(_.asInt == cur))
          .getOrElse(arr.get(0))
      case _ => Option(root.get("schema")).getOrElse(
        throw new IllegalArgumentException("table metadata has no schema"))
    }
    val snaps = Option(root.get("snapshots")).toSeq
      .flatMap(_.elements().asScala)
      .flatMap { s =>
        for {
          id <- Option(s.get("snapshot-id")).map(_.asLong)
          ml <- Option(s.get("manifest-list")).map(_.asText)
        } yield id -> Snapshot(id, ml)
      }.toMap
    val curSnap = Option(root.get("current-snapshot-id")).map(_.asLong).filter(_ != -1L)
    TableMeta(fv, location, toSparkStruct(schemaNode), curSnap, snaps,
      topLevelFieldIds(schemaNode))
  }

  /** Top-level field-id → column name (the key space manifest
    * `lower_bounds`/`upper_bounds` maps use).
    */
  def topLevelFieldIds(node: JsonNode): Map[Int, String] =
    Option(node.get("fields")).toSeq.flatMap(_.elements().asScala).flatMap { f =>
      Option(f.get("id")).map(id => id.asInt -> f.get("name").asText)
    }.toMap

  /** Iceberg struct schema node → Spark StructType (spec §Schemas).
    *
    * Each field carries its Iceberg field id as `parquet.field.id`
    * metadata: with `spark.sql.parquet.fieldId.read.enabled` the parquet
    * reader then resolves columns BY ID, not by name — which is the
    * Iceberg column-resolution rule, and what makes schema evolution
    * (rename/add/drop) read correctly: a renamed column still binds to
    * the old data files' physical column through the unchanged id, and
    * a column added later is absent (null) in files written before it.
    */
  def toSparkStruct(node: JsonNode): StructType = {
    val fields = Option(node.get("fields")).toSeq.flatMap(_.elements().asScala).map { f =>
      val name = f.get("name").asText
      val required = Option(f.get("required")).exists(_.asBoolean)
      val meta = Option(f.get("id"))
        .map(id => new MetadataBuilder().putLong("parquet.field.id", id.asLong).build())
        .getOrElse(Metadata.empty)
      StructField(name, toSparkType(f.get("type")), nullable = !required, metadata = meta)
    }
    StructType(fields.toSeq)
  }

  private val DecimalRe = """decimal\((\d+),\s*(\d+)\)""".r
  private val FixedRe = """fixed\[(\d+)\]""".r

  /** Iceberg type (string primitive or nested object) → Spark type. */
  def toSparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean"       => BooleanType
      case "int"           => IntegerType
      case "long"          => LongType
      case "float"         => FloatType
      case "double"        => DoubleType
      case "date"          => DateType
      // Iceberg `time` is microseconds-since-midnight; Spark has no
      // time type — surfaced as LongType(µs), the parquet physical repr
      case "time"          => LongType
      case "timestamp"     => TimestampNTZType
      case "timestamptz"   => TimestampType
      case "string"        => StringType
      case "uuid"          => StringType
      case "binary"        => BinaryType
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case FixedRe(_)      => BinaryType
      case other =>
        throw new IllegalArgumentException(s"unsupported Iceberg type: $other")
    } else t.get("type").asText match {
      case "struct" => toSparkStruct(t)
      case "list" =>
        val elemNullable = !Option(t.get("element-required")).exists(_.asBoolean)
        ArrayType(toSparkType(t.get("element")), containsNull = elemNullable)
      case "map" =>
        val valNullable = !Option(t.get("value-required")).exists(_.asBoolean)
        MapType(toSparkType(t.get("key")), toSparkType(t.get("value")),
          valueContainsNull = valNullable)
      case other =>
        throw new IllegalArgumentException(s"unsupported Iceberg nested type: $other")
    }
}
