package graft.sources.iceberg

import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration

/** Manifest resolution: snapshot → manifest list (Avro) → manifests
  * (Avro) → live data and delete entries. Reads the spec'd field names
  * with the file-embedded writer schema (GenericDatumReader), so any
  * compliant writer's files resolve regardless of which optional fields
  * it wrote.
  *
  * A data manifest holds data files only (`data_file.content` = 0) and
  * those files must be parquet; anything else fails the read in-band.
  * Delete manifests (manifest-list `content` = 1) decode to position
  * and equality delete entries, which `Iceberg.read` applies; the SQL
  * catalog, which serves copy-on-write tables only, refuses them before
  * any manifest is read.
  */
object IcebergManifests {

  final case class DataFileEntry(path: String, format: String, recordCount: Long,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      sequenceNumber: Option[Long] = None)

  final case class DeleteFileEntry(path: String, content: Long,
      sequenceNumber: Option[Long] = None) {
    def isPosition: Boolean = content == 1L
    def isEquality: Boolean = content == 2L
  }

  /** A snapshot's manifest list → its live (data entries, delete
    * entries). Per manifest entry: `status` 2 = DELETED (dropped); a
    * null/absent entry `sequence_number` inherits the manifest's
    * (manifest-list field-id 515, the spec's v2 inheritance rule for
    * ADDED entries). Delete entries are `content` 1 position deletes
    * (parquet of (file_path, pos)) or 2 equality deletes (parquet whose
    * columns are the equality fields). `copyOnWrite` refuses a list
    * that names a delete manifest.
    */
  def entries(conf: Configuration, manifestListPath: String,
              copyOnWrite: Boolean): (Seq[DataFileEntry], Seq[DeleteFileEntry]) = {
    val manifests = readAvro(conf, manifestListPath).map { rec =>
      (rec.get("manifest_path").toString, longField(rec, "content").getOrElse(0L),
        longField(rec, "sequence_number"))
    }
    if (copyOnWrite && manifests.exists(_._2 == 1L))
      throw new UnsupportedOperationException(
        s"Iceberg table has delete manifests (merge-on-read); " +
          s"only copy-on-write tables are readable: $manifestListPath")
    // (manifest path, live `data_file` record, its sequence number)
    def live(content: Long) = manifests.filter(_._2 == content).flatMap {
      case (path, _, manifestSeq) =>
        readAvro(conf, path)
          .filter(rec => longField(rec, "status").getOrElse(1L) != 2L)
          .map(rec => (path, rec.get("data_file").asInstanceOf[GenericRecord],
            longField(rec, "sequence_number").orElse(manifestSeq)))
    }
    val data = live(0L).map { case (path, df, seq) =>
      val content = longField(df, "content").getOrElse(0L)
      if (content != 0L)
        throw new UnsupportedOperationException(
          s"Iceberg manifest contains delete files (content=$content); " +
            s"only copy-on-write tables are readable: $path")
      val fmt = Option(df.get("file_format")).map(_.toString).getOrElse("PARQUET")
      if (!fmt.equalsIgnoreCase("parquet"))
        throw new UnsupportedOperationException(
          s"unsupported Iceberg data-file format $fmt (parquet only)")
      DataFileEntry(df.get("file_path").toString, fmt,
        longField(df, "record_count").getOrElse(0L),
        boundsField(df, "lower_bounds"), boundsField(df, "upper_bounds"), seq)
    }
    val deletes = live(1L).map { case (path, df, seq) =>
      longField(df, "content").getOrElse(0L) match {
        case c @ (1L | 2L) => DeleteFileEntry(df.get("file_path").toString, c, seq)
        case other =>
          throw new IllegalArgumentException(
            s"unexpected content=$other in delete manifest $path")
      }
    }
    (data, deletes)
  }

  /** `lower_bounds`/`upper_bounds` — spec'd `map<int, binary>` keyed by
    * field id, avro-encoded as an array of key/value records (avro map
    * keys must be strings). Absent or null → empty.
    */
  private def boundsField(rec: GenericRecord, name: String): Map[Int, Array[Byte]] =
    if (rec.getSchema.getField(name) == null) Map.empty
    else Option(rec.get(name)) match {
      case Some(arr: java.util.Collection[_]) =>
        arr.asInstanceOf[java.util.Collection[GenericRecord]]
          .toArray(Array.empty[AnyRef]).toSeq.map { kv =>
            val r = kv.asInstanceOf[GenericRecord]
            val key = r.get("key") match {
              case i: java.lang.Integer => i.intValue
              case l: java.lang.Long    => l.intValue
              case other                => other.toString.toInt
            }
            val bytes = r.get("value") match {
              case bb: java.nio.ByteBuffer =>
                val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
              case a: Array[Byte] => a
              case other => other.toString.getBytes("UTF-8")
            }
            key -> bytes
          }.toMap
      case _ => Map.empty
    }

  private def longField(rec: GenericRecord, name: String): Option[Long] =
    if (rec.getSchema.getField(name) == null) None
    else Option(rec.get(name)).map {
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long    => l.longValue
      case other                => other.toString.toLong
    }

  /** Decode a whole Avro object file from the table's filesystem
    * (r2://, file://, …). Manifests are small (KBs–MBs of metadata about
    * TBs of data), so a full in-memory read is the right call — the data
    * files themselves stay on the FS and are byte-range-scanned by
    * Spark's parquet source.
    */
  private def readAvro(conf: Configuration, pathStr: String): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(Iceberg.readObject(conf, pathStr)),
      new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
      while (reader.hasNext) buf += reader.next()
      buf.toSeq
    } finally reader.close()
  }
}
