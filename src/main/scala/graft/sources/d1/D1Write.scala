package graft.sources.d1

import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.D1Client

/** Write path: `df.write.format("d1")` compiles rows to INSERT statements
  * committed as one-HTTP-round-trip batches — the Spark shape of the
  * reference's transaction batching (src/storage/d1_transaction.cpp:17-70,
  * batch POST d1_http.cpp:525-547).
  *
  * Semantics are the reference's, documented honestly: D1 auto-commits
  * per statement; a failed batch may leave earlier statements committed
  * (non-ACID — D1-ATTACH-SOLUTION.md:17-23). Each task flushes batches of
  * `batchSize` statements.
  */
class D1WriteBuilder(config: D1Client.Config, tableName: String, schema: StructType)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new D1BatchWrite(config, tableName, schema)
  }
}

/** Inside a `BEGIN`/`COMMIT` transaction ([[D1Txn]], checked driver-side
  * at plan time) the writers DEFER: instead of posting per-task batches
  * they carry their compiled statements back through the standard DSv2
  * [[WriterCommitMessage]] protocol, and the driver buffers them into the
  * transaction here in `commit()` — so `BEGIN; df.write...; COMMIT` posts
  * nothing until COMMIT, even on a real cluster. Outside a transaction
  * the writers stream per-task batches exactly as before.
  */
class D1BatchWrite(config: D1Client.Config, tableName: String, schema: StructType)
    extends BatchWrite {
  private val deferred = D1Txn.active
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new D1DataWriterFactory(config, tableName, schema.json, deferred)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (deferred) messages.foreach {
      case D1DeferredStatements(stmts) => D1Txn.bufferAll(config, stmts)
      case _ =>
    }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {}
}

class D1DataWriterFactory(config: D1Client.Config, tableName: String, schemaJson: String,
                          deferred: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new D1DataWriter(config, tableName,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], deferred = deferred)
}

class D1DataWriter(config: D1Client.Config, tableName: String, schema: StructType,
                   batchSize: Int = 50, deferred: Boolean = false)
    extends DataWriter[InternalRow] {

  private val buffer = scala.collection.mutable.ArrayBuffer.empty[String]

  override def write(record: InternalRow): Unit = {
    val values = schema.fields.zipWithIndex.map { case (f, i) =>
      val v = if (record.isNullAt(i)) null else record.get(i, f.dataType)
      D1SourceUtil.sqlLiteral(v, f.dataType).getOrElse(throw new UnsupportedOperationException(
        s"d1 writer does not support column type ${f.dataType.simpleString}"))
    }
    buffer += s"INSERT INTO $tableName (${schema.fieldNames.mkString(", ")}) VALUES (${values.mkString(", ")})"
    if (!deferred && buffer.size >= batchSize) flush()
  }

  private def flush(): Unit = {
    D1Txn.commitBatches(Seq(config -> buffer.toSeq))
    buffer.clear()
  }

  override def commit(): WriterCommitMessage =
    if (deferred) { val m = D1DeferredStatements(buffer.toSeq); buffer.clear(); m }
    else { flush(); D1CommitMessage }
  override def abort(): Unit = buffer.clear()
  override def close(): Unit = {}
}

case object D1CommitMessage extends WriterCommitMessage

/** Statements compiled by a task inside a transaction, shipped back to
  * the driver for [[D1Txn]] buffering (serializable by Spark's commit
  * protocol).
  */
case class D1DeferredStatements(statements: Seq[String]) extends WriterCommitMessage

/** Explicit batch-writer session — the `BEGIN; ...; COMMIT` surface
  * (reference transaction manager): reads execute immediately, writes
  * buffer until `commit()` posts one batch. `rollback()` just drops the
  * buffer; it cannot undo remotely-committed statements.
  */
class D1BatchSession(config: D1Client.Config) {
  private val buffer = new D1Txn.Buffer
  private var active = false

  def begin(): Unit = { buffer.drain(); active = true }

  /** Buffer a write inside a transaction, or execute immediately outside
    * one (reference d1_transaction.cpp:60-70).
    */
  def execute(sql: String): Long =
    if (active) { buffer.add(config, sql); 0L }
    else D1Client.checkedQuery(config, sql, "D1 execute failed").meta.changes

  /** Reads bypass the buffer — no read-your-writes inside a txn. */
  def query(sql: String): D1Client.QueryResult = D1Client.executeQuery(config, sql)

  /** Posts the buffer as one batch through [[D1Txn.commitBatches]]. The
    * transaction ends even if the batch fails, as `COMMIT` does.
    */
  def commit(): Unit = { active = false; D1Txn.commitBatches(buffer.drain()) }

  def rollback(): Unit = { buffer.drain(); active = false }

  def pendingStatements: Seq[String] = buffer.pending
}
