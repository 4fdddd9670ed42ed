package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The file source and the drain every stream runner shares. */
private[graft] object Streams {

  /** A streaming parquet source over `path`, its schema read once from
    * the files already there; `maxFilesPerTrigger` caps each micro-batch
    * when set (the default drains everything available per trigger). A
    * `path` naming a single file streams its directory filtered to that
    * file name: the file source wants a directory.
    */
  def fileSource(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger.fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isFile)
      reader.option("pathGlobFilter", p.getName).parquet(p.getParent.toString)
    else reader.parquet(path)
  }

  /** Start `writer`'s query, process everything available, stop it. */
  def drain(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** [[drain]] `frame` into the memory sink `queryName` in `outputMode`;
    * returns the sink's table.
    */
  def drainToMemory(frame: DataFrame, queryName: String, outputMode: String): DataFrame = {
    drain(frame.writeStream.outputMode(outputMode).format("memory").queryName(queryName))
    frame.sparkSession.table(queryName)
  }
}
