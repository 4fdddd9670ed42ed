package graft.fixtures

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** Iceberg-on-R2 test fixture: publishes a DataFrame as an Iceberg
  * table inside the stub's S3 bucket — parquet data files + spec-shaped
  * Avro manifests/manifest-list + `vN.metadata.json` — and serves the
  * REST catalog protocol (config/namespaces/tables/loadTable) from the
  * same stub. Everything the catalog reads in tests is generated here
  * per the public Iceberg table spec (field names and layout), since the
  * environment has no Iceberg writer to produce golden files.
  *
  * Layout written under the `r2-lake` bucket:
  * {{{
  * iceberg/<ns>/<tbl>/data/part-<i>.parquet
  * iceberg/<ns>/<tbl>/metadata/v<N>.metadata.json
  * iceberg/<ns>/<tbl>/metadata/snap-<id>.avro          (manifest list)
  * iceberg/<ns>/<tbl>/metadata/manifest-<id>-<i>.avro  (manifests)
  * }}}
  */
object IcebergFixture {

  /** (namespace, table) → metadata-location (r2:// path). */
  val tables = TrieMap.empty[(String, String), String]

  // ---- Avro schemas: the read-path subset of the spec'd manifest formats

  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":515}
      |]}""".stripMargin)

  private val manifestEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"data_file","type":{"type":"record","name":"r2_data_file","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"lower_bounds","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k126_v127","fields":[
      |      {"name":"key","type":"int","field-id":126},
      |      {"name":"value","type":"bytes","field-id":127}]}}],
      |   "default":null,"field-id":125},
      |  {"name":"upper_bounds","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k129_v130","fields":[
      |      {"name":"key","type":"int","field-id":129},
      |      {"name":"value","type":"bytes","field-id":130}]}}],
      |   "default":null,"field-id":128}
      |]},"field-id":2}
      |]}""".stripMargin)

  /** Spec single-value serialization for bounds: little-endian numerics,
    * UTF-8 strings. Unsupported types → None (bound omitted).
    */
  private def encodeBound(v: Any): Option[Array[Byte]] = v match {
    case null => None
    case i: Int => Some(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array())
    case l: Long => Some(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array())
    case d: Double => Some(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array())
    case s: String => Some(s.getBytes(UTF_8))
    case _ => None
  }

  /** Per-file (field-id → bytes) bounds, computed by reading the written
    * parquet back (the accurate source of each file's min/max).
    */
  private def fileBounds(spark: org.apache.spark.sql.SparkSession, file: java.io.File,
                         schema: org.apache.spark.sql.types.StructType)
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    import org.apache.spark.sql.functions.{min, max}
    val sdf = spark.read.parquet(file.getAbsolutePath)
    val aggs = schema.fields.flatMap(f =>
      Seq(min(org.apache.spark.sql.functions.col(f.name)).as(s"lo_${f.name}"),
        max(org.apache.spark.sql.functions.col(f.name)).as(s"hi_${f.name}")))
    val row = sdf.agg(aggs.head, aggs.tail: _*).collect()(0)
    val lo = scala.collection.mutable.Map.empty[Int, Array[Byte]]
    val hi = scala.collection.mutable.Map.empty[Int, Array[Byte]]
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      encodeBound(row.get(row.fieldIndex(s"lo_${f.name}"))).foreach(lo(i + 1) = _)
      encodeBound(row.get(row.fieldIndex(s"hi_${f.name}"))).foreach(hi(i + 1) = _)
    }
    (lo.toMap, hi.toMap)
  }

  private def boundsArray(kvSchema: Schema, bounds: Map[Int, Array[Byte]]): AnyRef = {
    val arr = new java.util.ArrayList[GenericRecord]()
    bounds.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(kvSchema)
      r.put("key", k)
      r.put("value", java.nio.ByteBuffer.wrap(v))
      arr.add(r)
    }
    arr
  }

  private def writeAvro(schema: Schema, records: Seq[GenericRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    records.foreach(w.append)
    w.close()
    out.toByteArray
  }

  /** Spark type → Iceberg schema-JSON type string/object. */
  def icebergType(dt: DataType): String = dt match {
    case BooleanType         => "\"boolean\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType            => "\"long\""
    case FloatType           => "\"float\""
    case DoubleType          => "\"double\""
    case DateType            => "\"date\""
    case TimestampNTZType    => "\"timestamp\""
    case TimestampType       => "\"timestamptz\""
    case StringType          => "\"string\""
    case BinaryType          => "\"binary\""
    case d: DecimalType      => s""""decimal(${d.precision}, ${d.scale})""""
    case a: ArrayType =>
      s"""{"type":"list","element-id":0,"element":${icebergType(a.elementType)},"element-required":${!a.containsNull}}"""
    case s: StructType       => icebergStruct(s, 1000)
    case other => throw new IllegalArgumentException(s"fixture: unsupported $other")
  }

  private def icebergStruct(st: StructType, idBase: Int, schemaId: Int = 0): String = {
    val fields = st.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${idBase + i},"name":"${f.name}","required":${!f.nullable},"type":${icebergType(f.dataType)}}"""
    }
    s"""{"type":"struct","schema-id":$schemaId,"fields":[${fields.mkString(",")}]}"""
  }

  /** Attach `parquet.field.id` metadata (1-based positional, matching
    * [[icebergStruct]]'s id assignment) so the written parquet embeds
    * Iceberg field ids — required of every compliant writer; the read
    * path resolves columns by these ids.
    */
  private def withFieldIds(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df.select(df.schema.fields.zipWithIndex.map { case (f, i) =>
      col(f.name).as(f.name,
        new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
    }.toSeq: _*)
  }

  // ---- the four writers every publish* entry point goes through ------

  private def location(key: String): String = s"r2://r2-lake/$key"

  /** A data or delete file put in the stub. */
  private final case class FileEntry(path: String, size: Long, rows: Long,
      lower: Map[Int, Array[Byte]] = Map.empty, upper: Map[Int, Array[Byte]] = Map.empty)

  /** A manifest put in the stub, as its manifest-list record names it. */
  private final case class ManifestFile(path: String, length: Long, content: Int,
                                        sequenceNumber: Option[Long] = None)

  /** Data files: write `df` as parquet — split on `rangeFiles`' column
    * into that many files, else one file — and put part `i` at
    * `<stem>-<i>.parquet`. File `i` holds the keys in `[q(i), q(i+1))`,
    * `q(i)` the key at row `i·N/n` of the sorted key column: exact
    * quantiles, so the split depends on the data alone (a sampled range
    * partitioner's also depends on the Spark work run before it). Rows
    * are counted off the written file, bounds (keyed by 1-based field
    * position) computed only when asked.
    */
  private def putParquet(stub: Stub, df: DataFrame, stem: String,
                         rangeFiles: Option[(String, Int)] = None,
                         withBounds: Boolean = false): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val tmp = java.nio.file.Files.createTempDirectory("icefix").toFile
    val out = new java.io.File(tmp, "d")
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith(".parquet") && f.length() > 0).sortBy(_.getName)
    try {
      val files = rangeFiles match {
        case Some((key, n)) =>
          // one task writes every file (fixture-sized data), each sorted
          // on the key; null keys land in file 0
          val keys = df.select(col(key)).collect().flatMap(r => Option(r.get(0)))
            .map(_.asInstanceOf[Comparable[Any]]).sortWith(_.compareTo(_) < 0)
          val file = (1 until n).flatMap(i => keys.lift((i.toLong * keys.length / n).toInt))
            .map(q => when(col(key) >= lit(q), 1).otherwise(0))
            .foldLeft(lit(0))(_ + _)
          df.withColumn("__file", file).coalesce(1)
            .sortWithinPartitions(col("__file"), col(key))
            .write.partitionBy("__file").parquet(out.getAbsolutePath)
          (0 until n).flatMap(i => parquetFiles(new java.io.File(out, s"__file=$i")))
        case None =>
          df.coalesce(1).write.parquet(out.getAbsolutePath)
          parquetFiles(out)
      }
      files.zipWithIndex.map { case (f, i) =>
        val key = s"$stem-$i.parquet"
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        stub.objects.put(key, bytes)
        val rows = df.sparkSession.read.parquet(f.getAbsolutePath).count()
        val (lo, hi) =
          if (withBounds) fileBounds(df.sparkSession, f, df.schema)
          else (Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]])
        FileEntry(location(key), bytes.length.toLong, rows, lo, hi)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  /** Manifests: one ADDED entry per file (`content` 0 data, 1 position
    * deletes, 2 equality deletes; entry `sequence_number` left null, so
    * it inherits the manifest's), put at `key`.
    */
  private def putManifest(stub: Stub, key: String, snapId: Long, files: Seq[FileEntry],
                          content: Int = 0, sequenceNumber: Option[Long] = None): ManifestFile = {
    val fileSchema = manifestEntrySchema.getField("data_file").schema()
    def kv(field: String) =
      fileSchema.getField(field).schema().getTypes.get(1).getElementType
    val entries = files.map { f =>
      val dfRec = new GenericData.Record(fileSchema)
      dfRec.put("content", content)
      dfRec.put("file_path", f.path)
      dfRec.put("file_format", "PARQUET")
      dfRec.put("record_count", f.rows)
      dfRec.put("file_size_in_bytes", f.size)
      if (f.lower.nonEmpty) dfRec.put("lower_bounds", boundsArray(kv("lower_bounds"), f.lower))
      if (f.upper.nonEmpty) dfRec.put("upper_bounds", boundsArray(kv("upper_bounds"), f.upper))
      val rec = new GenericData.Record(manifestEntrySchema)
      rec.put("status", 1) // ADDED
      rec.put("snapshot_id", snapId)
      rec.put("data_file", dfRec)
      rec
    }
    val bytes = writeAvro(manifestEntrySchema, entries)
    stub.objects.put(key, bytes)
    // the manifest list's `content` is the manifest's kind: 0 data, 1 deletes
    ManifestFile(location(key), bytes.length.toLong, math.min(content, 1), sequenceNumber)
  }

  /** Manifest lists: snapshot `snapId`'s list naming `manifests`, put at
    * `<prefix>/metadata/snap-<snapId>.avro`; returns its location.
    */
  private def putManifestList(stub: Stub, prefix: String, snapId: Long,
                              manifests: Seq[ManifestFile]): String = {
    val recs = manifests.map { m =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", m.length)
      r.put("partition_spec_id", 0)
      r.put("content", m.content)
      r.put("added_snapshot_id", snapId)
      m.sequenceNumber.foreach(r.put("sequence_number", _))
      r
    }
    val key = s"$prefix/metadata/snap-$snapId.avro"
    stub.objects.put(key, writeAvro(manifestListSchema, recs))
    location(key)
  }

  /** Metadata JSON: `v<current>.metadata.json` for table `ns.tbl`, the
    * last schema and the last snapshot current; registers the table with
    * the REST routes and returns the metadata location. `snapshots` are
    * (id, manifest-list location, summary operation).
    */
  private def putMetadata(stub: Stub, ns: String, tbl: String, uuid: Long,
                          schemas: Seq[StructType],
                          snapshots: Seq[(Long, String, String)]): String = {
    val prefix = s"iceberg/$ns/$tbl"
    val current = snapshots.last._1
    val schemasJson = schemas.zipWithIndex
      .map { case (st, i) => icebergStruct(st, 1, schemaId = i) }.mkString(",")
    val snapsJson = snapshots.map { case (id, ml, op) =>
      s"""{"snapshot-id":$id,"timestamp-ms":0,"manifest-list":"$ml","summary":{"operation":"$op"}}"""
    }.mkString(",")
    val metaJson =
      f"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-$uuid%012d",
         |"location":"${location(prefix)}",
         |"last-sequence-number":$current,"last-updated-ms":0,"last-column-id":${schemas.last.length},
         |"current-schema-id":${schemas.length - 1},"schemas":[$schemasJson],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
         |"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],
         |"current-snapshot-id":$current,"snapshots":[$snapsJson]}""".stripMargin
    val metaKey = s"$prefix/metadata/v$current.metadata.json"
    stub.objects.put(metaKey, metaJson.getBytes(UTF_8))
    val metaLoc = location(metaKey)
    tables.put((ns, tbl), metaLoc)
    metaLoc
  }

  // ---- entry points ----------------------------------------------------

  /** Publish each DataFrame as one copy-on-write snapshot of table
    * `ns.tbl` (each snapshot lists its full live file set; current =
    * the last). Returns the metadata location.
    */
  def publishSnapshots(stub: Stub, ns: String, tbl: String,
                       dfs: Seq[DataFrame],
                       rangeFiles: Option[(String, Int)] = None,
                       withBounds: Boolean = false): String = {
    val prefix = s"iceberg/$ns/$tbl"
    val snaps = dfs.zipWithIndex.map { case (df, i) =>
      val snapId = i + 1L
      val files = putParquet(stub, withFieldIds(df), s"$prefix/data/part-s$snapId",
        rangeFiles, withBounds)
      val manifest = putManifest(stub, s"$prefix/metadata/manifest-$snapId-0.avro", snapId, files)
      (snapId, putManifestList(stub, prefix, snapId, Seq(manifest)), "append")
    }
    putMetadata(stub, ns, tbl, snaps.last._1, Seq(dfs.head.schema), snaps)
  }

  /** Publish `df` as Iceberg table `ns.tbl` in `stub`'s bucket; returns
    * the metadata location.
    */
  def publish(stub: Stub, ns: String, tbl: String, df: DataFrame,
              extraSnapshotOfSameData: Boolean = false): String =
    publishSnapshots(stub, ns, tbl, if (extraSnapshotOfSameData) Seq(df, df) else Seq(df))

  /** Publish a SCHEMA-EVOLVED table: `df1`'s file is written under
    * schema 0 (ids 1..k, `df1`'s names), `df2`'s under the current
    * schema 1 (ids 1..n, `df2`'s names — positional, so a column of
    * `df2` sharing a position with `df1` is that column RENAMED, and
    * columns beyond `df1`'s width are ADDED). The current snapshot's
    * manifest list carries both files, which is exactly what a real
    * table looks like after `ALTER TABLE ... RENAME/ADD COLUMN` + a
    * second append: old data files still carry old column names, and
    * only field-id resolution reads them correctly.
    */
  def publishEvolved(stub: Stub, ns: String, tbl: String,
                     df1: DataFrame, df2: DataFrame): String = {
    require(df2.schema.length >= df1.schema.length,
      "publishEvolved: df2 must not drop columns of df1")
    val prefix = s"iceberg/$ns/$tbl"
    def manifest(df: DataFrame, snapId: Long) =
      putManifest(stub, s"$prefix/metadata/manifest-$snapId-0.avro", snapId,
        putParquet(stub, withFieldIds(df), s"$prefix/data/part-s$snapId"))
    val m1 = manifest(df1, 1L)
    val m2 = manifest(df2, 2L)
    putMetadata(stub, ns, tbl, 42L, Seq(df1.schema, df2.schema), Seq(
      (1L, putManifestList(stub, prefix, 1L, Seq(m1)), "append"),
      (2L, putManifestList(stub, prefix, 2L, Seq(m1, m2)), "append"))) // live set after the evolution
  }

  /** Snapshot 1's data manifest as [[publish]] wrote it. */
  private def publishedManifest(stub: Stub, prefix: String): ManifestFile = {
    val key = s"$prefix/metadata/manifest-1-0.avro"
    ManifestFile(location(key), stub.objects(key).length.toLong, content = 0)
  }

  /** Publish a table whose manifest list declares a DELETE manifest —
    * the reader must reject it (merge-on-read unsupported). The delete
    * manifest itself is never written: the catalog must refuse the table
    * from the manifest list alone.
    */
  def publishWithDeletes(stub: Stub, ns: String, tbl: String, df: DataFrame): String = {
    val loc = publish(stub, ns, tbl, df)
    val prefix = s"iceberg/$ns/$tbl"
    putManifestList(stub, prefix, 1L, Seq(publishedManifest(stub, prefix),
      ManifestFile(location(s"$prefix/metadata/manifest-del.avro"), 1L, content = 1)))
    loc
  }

  /** Publish a merge-on-read table: a data snapshot plus one delete
    * manifest whose delete file holds `deleteDf` (spec-shaped parquet).
    * `content` 1 = position deletes ((file_path, pos) rows), 2 =
    * equality deletes (columns = equality fields).
    */
  private def publishWithDeleteFile(stub: Stub, ns: String, tbl: String,
                                    df: DataFrame, deleteDf: DataFrame,
                                    content: Int): String = {
    val loc = publish(stub, ns, tbl, df)
    val prefix = s"iceberg/$ns/$tbl"
    val deletes = putManifest(stub, s"$prefix/metadata/manifest-del-0.avro", 1L,
      putParquet(stub, deleteDf, s"$prefix/data/delete"), content)
    putManifestList(stub, prefix, 1L, Seq(publishedManifest(stub, prefix), deletes))
    loc
  }

  /** Position-delete MOR table: masks `deletePositions` (0-based row
    * indexes of the single data file).
    */
  def publishWithPositionDeletes(stub: Stub, ns: String, tbl: String, df: DataFrame,
                                 deletePositions: Seq[Long]): String = {
    val dataPath = location(s"iceberg/$ns/$tbl/data/part-s1-0.parquet")
    val spark = df.sparkSession
    import spark.implicits._
    publishWithDeleteFile(stub, ns, tbl, df,
      deletePositions.map(p => (dataPath, p)).toDF("file_path", "pos"), content = 1)
  }

  /** Equality-delete MOR table: masks rows matching `deleteRows` on its
    * columns (the equality fields).
    */
  def publishWithEqualityDeletes(stub: Stub, ns: String, tbl: String, df: DataFrame,
                                 deleteRows: DataFrame): String =
    publishWithDeleteFile(stub, ns, tbl, df, deleteRows, content = 2)

  /** Delete-then-reinsert MOR history, exercising the v2 sequence-number
    * scoping rule: `df1` lands at data sequence 1, an equality delete
    * on `deleteRows`' columns at sequence 2, and `df2` (rows matching
    * the delete, re-inserted) at sequence 3. A spec-correct reader
    * masks only `df1` rows (seq 1 < 2) and keeps every `df2` row
    * (seq 3 > 2); a reader that applies deletes globally silently drops
    * the re-inserts. Sequence numbers are carried on the manifest-list
    * entries — entry-level `sequence_number` stays null, so this also
    * exercises the inheritance rule.
    */
  def publishDeleteThenReinsert(stub: Stub, ns: String, tbl: String,
                                df1: DataFrame, deleteRows: DataFrame,
                                df2: DataFrame): String = {
    val prefix = s"iceberg/$ns/$tbl"
    def manifest(df: DataFrame, stem: String, name: String, content: Int, seq: Long) =
      putManifest(stub, s"$prefix/metadata/manifest-$name.avro", 3L,
        putParquet(stub, withFieldIds(df), s"$prefix/data/$stem"), content, Some(seq))
    val manifests = Seq(
      manifest(df1, "part-s1", "1-0", 0, 1L),
      manifest(deleteRows, "delete", "del-0", 2, 2L),
      manifest(df2, "part-s3", "3-0", 0, 3L))
    putMetadata(stub, ns, tbl, 77L, Seq(df1.schema),
      Seq((3L, putManifestList(stub, prefix, 3L, manifests), "overwrite")))
  }

  /** Install the REST catalog protocol routes on `stub` under
    * `/iceberg` (catalog uri = `<stub.base>/iceberg`).
    */
  def installRest(stub: Stub): Stub = {
    stub.route("/iceberg/v1/") { ex =>
      val path = ex.getRequestURI.getPath.stripPrefix("/iceberg/v1/")
      val segs = path.split("/").filter(_.nonEmpty).toList
      def json(s: String) = (200, s.getBytes(UTF_8))
      segs match {
        case "config" :: Nil =>
          json("""{"defaults":{},"overrides":{}}""")
        case "namespaces" :: Nil =>
          val nss = tables.keys.map(_._1).toSeq.distinct.sorted
            .map(ns => s"""["$ns"]""").mkString(",")
          json(s"""{"namespaces":[$nss]}""")
        case "namespaces" :: ns :: "tables" :: Nil =>
          val ids = tables.keys.filter(_._1 == ns).map(_._2).toSeq.sorted
            .map(t => s"""{"namespace":["$ns"],"name":"$t"}""").mkString(",")
          json(s"""{"identifiers":[$ids]}""")
        case "namespaces" :: ns :: "tables" :: t :: Nil =>
          tables.get((ns, t)) match {
            case Some(loc) =>
              json(s"""{"metadata-location":"$loc","config":{}}""")
            case None =>
              (404, s"""{"error":{"message":"Table does not exist: $ns.$t","type":"NoSuchTableException","code":404}}""".getBytes(UTF_8))
          }
        case _ => (404, "not found".getBytes(UTF_8))
      }
    }
    stub
  }
}
