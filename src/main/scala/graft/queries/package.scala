package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** One correctness-gate entry: Spark-side plan + optional DuckDB oracle
    * SQL over the same parquet tables. Queries with no SQL-expressible
    * oracle get a rows-only check from the driver.
    */
  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Load one test table. Paths follow TESTDATA.md:
    * `<dir>/<table>.parquet`.
    *
    * `events.ts` is TIMESTAMP(NANOS) parquet in the testdata and µs in
    * the replicated bench SFs; both load as a µs TimestampType column
    * through the engine's events `ts` bridge
    * ([[graft.streaming.EventsStream.withMicrosTs]]).
    */
  // Per-(session, dir, table) memo of the base relation. A query engine
  // resolves a table through its catalog ONCE — schema and file listing
  // are catalog state, not per-query work — whereas a bare
  // `spark.read.parquet` re-lists the directory and re-reads footers on
  // every call (measured 80–160 ms of every query build at sf0.1, ~25×
  // per bench pass). The cached value is an immutable logical plan;
  // keyed by session so tests with many short-lived sessions don't cross.
  // Testdata dirs are immutable for a session's lifetime (TESTDATA.md);
  // anything that rewrites a path it reads must use spark.read directly.
  private val loadCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, table: String): DataFrame =
    loadCache.computeIfAbsent((spark, dir, table),
      _ => doLoad(spark, dir, table))

  private def doLoad(spark: SparkSession, dir: String, table: String): DataFrame =
    if (table == "events")
      graft.streaming.EventsStream.withMicrosTs(spark)(spark.read.parquet(s"$dir/$table.parquet"))
    else spark.read.parquet(s"$dir/$table.parquet")

  /** On-disk bytes of a table — the same compressed-size estimate
    * Spark's planner itself uses (`sizeInBytes` = sum of file lengths)
    * when deciding whether a side is broadcastable. Used for the
    * cost-based plan choices a catalog with ANALYZE stats would make.
    */
  def tableBytes(dir: String, table: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    size(new java.io.File(s"$dir/$table.parquet"))
  }

  /** Compressed bytes of just `cols` in a parquet table, summed from the
    * file footers' column-chunk metadata — the per-column size stat an
    * ANALYZE'd catalog carries. Broadcastability is a property of the
    * PROJECTION that actually ships, not the whole table: a 2-of-8-column
    * dim projection (e.g. `customer(c_custkey, c_mktsegment)`, where
    * the segment column dictionary-encodes to well under a byte a row)
    * is often 4–8× smaller than [[tableBytes]], and gating on the
    * full-table size passes up broadcast joins the cost model should
    * take. Footers only — no data pages are read.
    *
    * LOCAL-FILESYSTEM ONLY: file enumeration uses `java.io.File`, which
    * serves the bench/test harness this cost model feeds (local parquet
    * dirs). Do not promote into the engine proper as-is — a lake path
    * (s3a://, r2://) needs the Hadoop FileSystem API for listing, and at
    * that point the stats should come from the catalog, not footer scans.
    */
  def projectedBytes(dir: String, table: String, cols: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File(s"$dir/$table.parquet")
    val files =
      if (root.isDirectory)
        root.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(root)
    val conf = new org.apache.hadoop.conf.Configuration()
    val wanted = cols.map(_.toLowerCase).toSet
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.iterator
        .flatMap(_.getColumns.asScala)
        .filter(c => wanted(c.getPath.toDotString.toLowerCase))
        .map(_.getTotalSize).sum
      finally r.close()
    }.sum
  }
}
