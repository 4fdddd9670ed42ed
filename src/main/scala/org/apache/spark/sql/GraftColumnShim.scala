package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Bridge to `private[sql]` Spark APIs: the Column↔Expression converters
  * (Spark 4 removed the public `new Column(expr)` constructor), the
  * session id, and the batch snapshot below. Lives in the
  * org.apache.spark.sql package solely to cross that visibility boundary;
  * the public surface is graft.functions and graft.operators.
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's stable unique id (`private[sql]` on the api class) —
    * keys per-session state such as graft's D1 transaction buffers.
    */
  def sessionUUID(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID

  /** Eagerly convert a Column's node tree to a catalyst Expression.
    * `expression` wraps non-trivial nodes in a lazy `ColumnNodeExpression`
    * that only the DataFrame analysis path unwraps — an expression
    * embedded in a FunctionRegistry builder output never goes through
    * that path and would reach codegen unresolved.
    */
  def resolvedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A batch-scoped SNAPSHOT of `df`: the frame's physical RDD persisted
    * MEMORY_AND_DISK and wrapped as a `LogicalRDD` (the plan node
    * `localCheckpoint` builds, minus the lineage cut). The first action
    * over the snapshot computes it once; every later action reads the
    * stored blocks. Returns the snapshot and its release function, which
    * unpersists with a blocking call.
    *
    * Why not `persist()`: the CacheManager tracks a persisted plan by its
    * file sources, and every file write calls `recacheByPath` on the
    * written directory. A batch frame that reads an index directory
    * (bands, hashes, fps, keys) loses its cache the moment the batch's
    * own append writes into that directory, and each later action
    * re-runs the whole plan. The CacheManager does not know this RDD, so
    * no write can drop it. A lost block recomputes from the lineage,
    * whose file lists were fixed when the plan ran, so a recompute sees
    * the same inputs as the first run.
    */
  def snapshot(df: DataFrame): (DataFrame, () => Unit) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    // under its own execution id, like Dataset.checkpoint: with AQE,
    // `execute()` runs the plan's shuffle and broadcast stages here
    val rdd = SQLExecution.withNewExecutionId(qe, Some("snapshot")) {
      qe.executedPlan.execute().map(_.copy())
    }
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val snap = classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    (snap, () => { rdd.unpersist(blocking = true); () })
  }
}
