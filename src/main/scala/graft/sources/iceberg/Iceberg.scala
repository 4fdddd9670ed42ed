package graft.sources.iceberg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.functions._

import graft.core.Http
import IcebergManifests.{DataFileEntry, DeleteFileEntry}

/** The one Iceberg snapshot core (REST resolution → metadata →
  * snapshot → manifest entries) and the merge-on-read-capable
  * DataFrame read API.
  *
  * [[IcebergRestCatalog]] (the SQL path) serves copy-on-write tables and
  * fails in-band on delete manifests — a DSv2 `loadTable` must return a
  * single Table, and Spark's parquet table can't express the delete
  * anti-join. This API can: `Iceberg.read` plans
  *
  * {{{ data ⟕anti deletes ON (_metadata.file_path, _metadata.row_index) }}}
  *
  * which is exactly Iceberg v2 position-delete semantics — a delete row
  * (file_path, pos) masks the pos-th row of that data file. Spark's
  * `_metadata` columns supply the file path and row index without any
  * custom reader; the delete side is tiny relative to data (tombstones),
  * so AQE broadcasts it and the data side never shuffles. Equality
  * deletes anti-join on their own columns (see [[read]]).
  */
object Iceberg {

  private val mapper = new ObjectMapper()

  /** GET a REST path as JSON. A 404 on a LoadTable path (`table` given)
    * is Spark's NoSuchTableException; any other failure status throws.
    */
  private[iceberg] def getJson(uri: String, token: String, path: String,
                               table: Option[Seq[String]] = None): JsonNode = {
    val headers = if (token.isEmpty) Map.empty[String, String]
    else Map("Authorization" -> s"Bearer $token")
    val r = Http.send("GET", s"$uri$path", headers)
    if (r.status == 404 && table.isDefined) throw new NoSuchTableException(table.get)
    if (r.status / 100 != 2)
      throw new RuntimeException(
        s"Iceberg REST catalog: GET $path -> HTTP ${r.status}: ${r.bodyString.take(200)}")
    mapper.readTree(r.body)
  }

  /** A whole metadata object (JSON, manifest list or manifest): open and
    * read to EOF. The filesystem's `open` already finds the object's
    * length, so no separate status call is made.
    */
  private[iceberg] def readObject(conf: Configuration, pathStr: String): Array[Byte] = {
    val p = new Path(pathStr)
    val in = p.getFileSystem(conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** A namespace's REST path segment: a multipart namespace joins with
    * the percent-encoded unit separator (%1F), per the REST spec.
    */
  private[iceberg] def namespacePath(namespace: Seq[String]): String =
    namespace.map(Http.encodeUrl).mkString("%1F")

  /** The REST path of a table's LoadTableResult. */
  private[iceberg] def tablePath(namespace: Seq[String], table: String): String =
    s"/v1/namespaces/${namespacePath(namespace)}/tables/${Http.encodeUrl(table)}"

  /** A table's LoadTableResult; NoSuchTableException when the catalog
    * has no such table.
    */
  private[iceberg] def loadTableResult(uri: String, token: String,
                                       namespace: Seq[String], table: String): JsonNode =
    getJson(uri, token, tablePath(namespace, table), Some(namespace :+ table))

  /** One snapshot of a table, resolved for reading: the table metadata
    * and the snapshot's live data and delete entries (both empty when
    * the table has no snapshot yet).
    */
  private[iceberg] final case class Resolved(meta: IcebergMeta.TableMeta,
      data: Seq[DataFileEntry], deletes: Seq[DeleteFileEntry])

  /** LoadTableResult → metadata (inline, or read from
    * `metadata-location`) → snapshot (`snapshotId`, else the current one)
    * → manifest entries. Column resolution is switched to field ids for
    * the session. `copyOnWrite` refuses a snapshot with delete manifests.
    */
  private[iceberg] def resolve(spark: SparkSession, uri: String, token: String,
                               namespace: Seq[String], table: String,
                               snapshotId: Option[Long], copyOnWrite: Boolean): Resolved = {
    enableFieldIdReads(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val name = (namespace :+ table).mkString(".")
    val result = loadTableResult(uri, token, namespace, table)
    val meta = Option(result.get("metadata")) match {
      case Some(m) if !m.isNull => IcebergMeta.parseNode(m)
      case _ =>
        val loc = Option(result.get("metadata-location")).map(_.asText).getOrElse(
          throw new RuntimeException(
            s"LoadTableResult for $name has neither metadata nor metadata-location"))
        IcebergMeta.parseNode(mapper.readTree(readObject(conf, loc)))
    }
    val snap = snapshotId match {
      case Some(id) => Some(meta.snapshots.getOrElse(id,
        throw new IllegalArgumentException(
          s"no snapshot $id in $name (have: ${meta.snapshots.keys.toSeq.sorted.mkString(", ")})")))
      case None => meta.currentSnapshot
    }
    snap match {
      case Some(s) =>
        val (data, deletes) = IcebergManifests.entries(conf, s.manifestList, copyOnWrite)
        Resolved(meta, data, deletes)
      case None => Resolved(meta, Nil, Nil)
    }
  }

  /** Column resolution is BY FIELD ID (the Iceberg rule): table schemas
    * carry `parquet.field.id` metadata and this flips Spark's parquet
    * reader into id matching. Data files missing embedded field ids
    * (which the Iceberg spec requires of every writer) fail loudly
    * rather than mis-binding by name.
    */
  private def enableFieldIdReads(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Read an Iceberg table into a DataFrame — position AND equality
    * deletes applied.
    *
    * Equality deletes anti-join the data on the delete file's columns
    * with null-safe equality (the spec matches nulls to nulls). Delete
    * files with different equality-field sets are grouped and applied
    * as one anti-join per column set. Sequence-number scoping follows
    * the v2 spec: an equality delete masks only rows of data files with
    * a STRICTLY SMALLER data sequence number — a row re-inserted after
    * the delete (larger sequence number) survives. Data files are
    * grouped by sequence number and each group anti-joins only the
    * deletes newer than it (distinct sequence numbers are bounded by
    * snapshots, so the union stays small; each branch is still one
    * multi-file parquet scan). When a writer recorded no sequence
    * numbers (v1 metadata), every delete applies to every data file —
    * the copy-on-write-then-delete shape. Position deletes need no
    * scoping: data files are immutable, so a (file_path, pos) pair
    * never identifies a re-inserted row.
    *
    * @param uri        REST catalog endpoint (same value as the
    *                   catalog's `spark.sql.catalog.<name>.uri`)
    * @param token      bearer token ("" for none)
    * @param snapshotId time travel: read this snapshot instead of the
    *                   current one
    */
  def read(spark: SparkSession, uri: String, namespace: Seq[String], table: String,
           token: String = "", snapshotId: Option[Long] = None): DataFrame = {
    val Resolved(meta, dataEntries, deletes) = resolve(spark, uri.stripSuffix("/"), token,
      namespace, table, snapshotId, copyOnWrite = false)
    if (dataEntries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
    val posFiles = deletes.filter(_.isPosition).map(_.path)
    val eqDeletes = deletes.filter(_.isEquality)

    // each branch reads as one multi-file scan; _metadata columns
    // must be selected per-scan (they don't resolve through a union)
    def readData(paths: Seq[String]): DataFrame = {
      val base = spark.read.schema(meta.schema).parquet(paths: _*)
      if (posFiles.isEmpty) base
      else base.select(col("*"),
        col("_metadata.file_path").as("__ice_file"),
        col("_metadata.row_index").as("__ice_pos"))
    }

    // group equality-delete files by their column set; one null-safe
    // anti-join per set
    def applyEq(df: DataFrame, eq: Seq[DeleteFileEntry]): DataFrame =
      eq.map(_.path).groupBy(f => spark.read.parquet(f).schema.fieldNames.toSeq.sorted)
        .foldLeft(df) { case (acc, (cols, files)) =>
          val del = spark.read.parquet(files: _*)
          val delAliased = del.select(cols.map(c => col(c).as(s"__ice_eq_$c")): _*)
          val cond = cols.map(c => acc(c) <=> delAliased(s"__ice_eq_$c"))
            .reduce(_ && _)
          acc.join(delAliased, cond, "left_anti")
        }

    // strict sequence scoping: a delete with sequence s masks only
    // data files with sequence < s; unknown sequences (v1 writers)
    // fall back to delete-applies (the COW-then-delete shape)
    def applies(del: DeleteFileEntry, dataSeq: Option[Long]): Boolean =
      (del.sequenceNumber, dataSeq) match {
        case (Some(ds), Some(fs)) => ds > fs
        case _ => true
      }

    val afterEq =
      if (eqDeletes.isEmpty) readData(dataEntries.map(_.path))
      else dataEntries.groupBy(_.sequenceNumber).toSeq.sortBy(_._1)
        .map { case (sq, entries) =>
          applyEq(readData(entries.map(_.path)), eqDeletes.filter(applies(_, sq)))
        }.reduce(_ unionAll _)

    if (posFiles.isEmpty) afterEq
    else {
      val dels = spark.read.parquet(posFiles: _*)
        .select(col("file_path").as("__ice_file"), col("pos").as("__ice_pos"))
      afterEq.join(dels, Seq("__ice_file", "__ice_pos"), "left_anti")
        .drop("__ice_file", "__ice_pos")
    }
  }
}
