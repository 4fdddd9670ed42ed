package graft.sources.d1

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.core.D1Client

/** `d1_query(sql)` — raw SQL passthrough (reference
  * src/d1_functions.cpp:92-177). The query executes EAGERLY, once per
  * `load()`, at schema inference (the reference runs it at bind time);
  * the loaded table holds the rows, so its actions replay them without a
  * second remote call, and a new `load()` sees the database as it is
  * then. Every column is VARCHAR in first-row key order ("D1 returns
  * strings anyway", :119-131). Empty result → single VARCHAR column
  * named `result`.
  *
  * Usage: `spark.read.format("d1query").option("query", sql)...`
  */
class D1QuerySource extends FetchedTableHandoff with DataSourceRegister {
  override def shortName(): String = "d1query"

  override protected def fetch(options: CaseInsensitiveStringMap): Table =
    D1QueryTable.fetch(options)
}

/** One executed `d1_query`: its all-VARCHAR schema and rows. */
class D1QueryTable(fullSchema: StructType, rows: Seq[Seq[String]])
    extends Table with SupportsRead {
  override def name(): String = "d1_query"
  override def schema(): StructType = fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned = fullSchema
      override def pruneColumns(requiredSchema: StructType): Unit = pruned = requiredSchema
      override def build(): Scan = new D1QueryScan(fullSchema, pruned, rows)
    }
}

object D1QueryTable {
  def fetch(options: CaseInsensitiveStringMap): D1QueryTable = {
    val sql = Option(options.get("query")).orElse(Option(options.get("sql"))).getOrElse(
      throw new IllegalArgumentException("d1query requires option 'query'"))
    val res = D1Client.checkedQuery(D1SourceUtil.configFrom(options), sql, "D1 query failed")
    if (res.rows.isEmpty) new D1QueryTable(StructType(Seq(StructField("result", StringType))), Nil)
    else new D1QueryTable(StructType(res.columnOrder.map(c => StructField(c, StringType))),
      res.rows.map(r => res.columnOrder.map(c => r.getOrElse(c, ""))))
  }
}

class D1QueryScan(fullSchema: StructType, prunedSchema: StructType, rows: Seq[Seq[String]])
    extends Scan with Batch {
  override def readSchema(): StructType = prunedSchema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val idx = prunedSchema.fieldNames.map(fullSchema.fieldIndex)
    Array(D1QueryPartition(rows.map(r => idx.map(r.apply).toSeq), prunedSchema.length))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[D1QueryPartition]
      new PartitionReader[InternalRow] {
        private var pos = -1
        override def next(): Boolean = { pos += 1; pos < p.rows.length }
        override def get(): InternalRow = new GenericInternalRow(
          p.rows(pos).map(v =>
            if (v.isEmpty) null else UTF8String.fromString(v): Any).toArray)
        override def close(): Unit = {}
      }
    }
}

case class D1QueryPartition(rows: Seq[Seq[String]], width: Int) extends InputPartition
