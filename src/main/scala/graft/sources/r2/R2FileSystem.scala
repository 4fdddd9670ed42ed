package graft.sources.r2

import java.net.{URI, URLEncoder}
import java.net.http.HttpRequest
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.core.Http

/** Read-only Hadoop `FileSystem` over R2's S3-compatible object API —
  * the NATIVE R2 table path beyond the reference's 1-row JSON
  * passthrough (r2_functions.cpp:35-37): register it and
  * `spark.read.parquet("r2://<bucket>/<prefix>")` goes through Spark's
  * own parquet source, so predicate pushdown, column pruning, row-group
  * skipping, and split planning all work against R2-hosted objects with
  * byte-ranged GETs (footer + projected column chunks only — never whole
  * objects).
  *
  * Wiring (hadoopConfiguration):
  *  - `fs.r2.impl`      = graft.sources.r2.R2FileSystem
  *  - `fs.r2.endpoint`  = https://<account_id>.r2.cloudflarestorage.com
  *                        (or an in-process stub for tests — zero egress)
  *  - `fs.r2.token`     = bearer token (optional; falls back to the
  *                        `r2_sql` secret surface)
  *
  * Listing uses ListObjectsV2 (`?list-type=2&prefix=&delimiter=/`) and
  * follows `NextContinuationToken` across the server's 1,000-key page
  * cap, so a prefix holding millions of objects lists completely; status
  * calls are two `max-keys=1` probes (the s3a pattern). Object length
  * and LastModified come from the listing, so reads never fetch
  * un-asked-for bytes.
  *
  * READ-ONLY by default — the reference exposes no R2 write surface, and
  * a read-only FS can never corrupt a lake. `fs.r2.write.enabled=true`
  * opts into the standard S3-API write mapping (create/delete/rename/
  * mkdirs — the s3a model; see the write section below) so the persisted
  * index lifecycle can run directly against R2-hosted layouts.
  */
class R2FileSystem extends FileSystem {

  private var fsUri: URI = _
  private var endpoint: String = _
  private var token: String = _
  private var blockSize: Long = _
  private var writeEnabled: Boolean = false

  override def getScheme: String = "r2"

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"r2://${name.getAuthority}")
    endpoint = conf.getTrimmed("fs.r2.endpoint", "")
    if (endpoint.isEmpty)
      throw new java.io.IOException(
        "fs.r2.endpoint must be set (https://<account_id>.r2.cloudflarestorage.com)")
    token = conf.getTrimmed("fs.r2.token", "")
    blockSize = conf.getLong("fs.r2.block.size", 32L * 1024 * 1024)
    writeEnabled = conf.getBoolean("fs.r2.write.enabled", false)
  }

  override def getUri: URI = fsUri
  private def bucket: String = fsUri.getAuthority
  private def keyOf(p: Path): String =
    p.toUri.getPath.stripPrefix("/").stripSuffix("/")
  private def auth: Map[String, String] =
    if (token.isEmpty) Map.empty else Map("Authorization" -> s"Bearer $token")

  private case class Obj(key: String, size: Long, mtime: Long)
  private case class ListPage(objs: Seq[Obj], prefixes: Seq[String],
                              truncated: Boolean, next: Option[String])

  /** One ListObjectsV2 request (a single page — the server caps responses
    * at 1,000 keys no matter what `max-keys` asks for).
    */
  private def listPage(prefix: String, delimited: Boolean, maxKeys: Int,
                       token: Option[String]): ListPage = {
    val enc = URLEncoder.encode(prefix, "UTF-8")
    val delim = if (delimited) "&delimiter=%2F" else ""
    val tok = token.map(t => s"&continuation-token=${URLEncoder.encode(t, "UTF-8")}")
      .getOrElse("")
    val resp = Http.send("GET",
      s"$endpoint/$bucket?list-type=2&prefix=$enc&max-keys=$maxKeys$delim$tok", auth)
    if (resp.status >= 400)
      throw new java.io.IOException(s"R2 list failed: HTTP ${resp.status}")
    val xml = resp.bodyString
    val objs = "<Contents>.*?</Contents>".r.findAllIn(xml).toSeq.flatMap { c =>
      for {
        k <- "<Key>(.*?)</Key>".r.findFirstMatchIn(c).map(_.group(1))
        s <- "<Size>(\\d+)</Size>".r.findFirstMatchIn(c).map(_.group(1).toLong)
      } yield Obj(k, s,
        "<LastModified>(.*?)</LastModified>".r.findFirstMatchIn(c)
          .flatMap(m => scala.util.Try(
            java.time.Instant.parse(m.group(1)).toEpochMilli).toOption)
          .getOrElse(0L))
    }
    val prefixes = "<CommonPrefixes><Prefix>(.*?)</Prefix>".r.findAllMatchIn(xml)
      .map(_.group(1)).toSeq.filter(_ != prefix)
    val truncated = xml.contains("<IsTruncated>true</IsTruncated>")
    val next = "<NextContinuationToken>(.*?)</NextContinuationToken>".r
      .findFirstMatchIn(xml).map(_.group(1))
    ListPage(objs, prefixes, truncated, next)
  }

  /** Full ListObjectsV2 listing: loops on `NextContinuationToken` until
    * `IsTruncated=false`. A single-page read silently drops everything
    * past the server's 1,000-key cap — Spark would then plan an
    * incomplete scan, which is data loss, not an error. `delimited=true`
    * rolls keys below one level into CommonPrefixes (directory listing);
    * false returns the whole subtree.
    */
  private def listObjects(prefix: String, delimited: Boolean): (Seq[Obj], Seq[String]) = {
    val objs = Seq.newBuilder[Obj]
    val pfx = Seq.newBuilder[String]
    var token: Option[String] = None
    var done = false
    while (!done) {
      val page = listPage(prefix, delimited, maxKeys = 1000, token)
      objs ++= page.objs
      pfx ++= page.prefixes
      if (page.truncated) {
        if (page.next.isEmpty)
          throw new java.io.IOException(
            s"R2 list of '$prefix' truncated without NextContinuationToken")
        token = page.next
      } else done = true
    }
    (objs.result(), pfx.result().distinct)
  }

  override def getFileStatus(f: Path): FileStatus = {
    val key = keyOf(f)
    if (key.isEmpty) return dirStatus(f) // bucket root
    // Two bounded probes (the s3a pattern), never an O(subtree) listing:
    // keys sort lexicographically, so with prefix=key the exact key — if
    // it exists — is always the first result.
    val exact = listPage(key, delimited = false, maxKeys = 1, token = None)
    exact.objs.headOption match {
      case Some(o) if o.key == key =>
        new FileStatus(o.size, false, 1, blockSize, o.mtime, f)
      case _ =>
        val sub = listPage(key + "/", delimited = false, maxKeys = 1, token = None)
        if (sub.objs.nonEmpty || sub.prefixes.nonEmpty) dirStatus(f)
        else throw new java.io.FileNotFoundException(s"r2://$bucket/$key")
    }
  }

  private def dirStatus(f: Path): FileStatus =
    new FileStatus(0, true, 1, blockSize, 0L, f)

  override def listStatus(f: Path): Array[FileStatus] = {
    val key = keyOf(f)
    // Hadoop FS contract: listStatus(file) returns that file's status,
    // not the (empty) listing under "key/" — Spark's InMemoryFileIndex
    // relies on this when given explicit file paths (e.g. an Iceberg
    // manifest's data files) rather than directories.
    if (key.nonEmpty) {
      val st = getFileStatus(f)
      if (!st.isDirectory) return Array(st)
    }
    val prefix = if (key.isEmpty) "" else key + "/"
    val (objs, prefixes) = listObjects(prefix, delimited = true)
    val files = objs.filter(_.key != prefix).map(o =>
      new FileStatus(o.size, false, 1, blockSize, o.mtime,
        new Path(s"r2://$bucket/${o.key}")))
    val dirs = prefixes.map(p => dirStatus(new Path(s"r2://$bucket/${p.stripSuffix("/")}")))
    (files ++ dirs).toArray
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val st = getFileStatus(f)
    if (st.isDirectory) throw new java.io.IOException(s"$f is a directory")
    new FSDataInputStream(new R2InputStream(
      s"$endpoint/$bucket/${keyOf(f)}", st.getLen, auth))
  }

  override def exists(f: Path): Boolean =
    try { getFileStatus(f); true } catch { case _: java.io.FileNotFoundException => false }

  // ---- writes: READ-ONLY by default (the reference exposes no R2 write
  // surface, and a read-only FS can never corrupt a lake). The persisted
  // index lifecycle — a beyond-reference component — needs a writable
  // object store, so `fs.r2.write.enabled=true` opts into the standard
  // S3-API write mapping (the s3a model):
  //  - create(): buffer locally, ONE object PUT on close — S3 PUT is
  //    atomic per object, so files appear whole or not at all;
  //  - rename(): CopyObject + DELETE per object — NOT atomic for
  //    directories (the documented object-store caveat every
  //    rename-based layout op carries; the index lifecycle's commit
  //    MARKER stays safe here because a single-object copy is atomic,
  //    while compaction's directory swap remains an offline op);
  //  - directories are virtual: mkdirs writes a zero-byte "key/" marker
  //    so empty dirs (committer scratch) remain visible to getFileStatus.
  private def ro = new UnsupportedOperationException(
    "R2 filesystem is read-only (set fs.r2.write.enabled=true to opt in " +
      "to the S3-API write mapping for index-lifecycle use)")

  private def putObject(key: String, body: Array[Byte]): Unit = {
    val resp = Http.send("PUT", s"$endpoint/$bucket/$key", auth,
      Some(HttpRequest.BodyPublishers.ofByteArray(body)), timeoutSeconds = 60)
    if (resp.status >= 400)
      throw new java.io.IOException(s"R2 PUT $key failed: HTTP ${resp.status}")
  }
  private def copyObject(src: String, dst: String): Unit = {
    val resp = Http.send("PUT", s"$endpoint/$bucket/$dst",
      auth + ("x-amz-copy-source" -> s"/$bucket/$src"),
      Some(HttpRequest.BodyPublishers.ofByteArray(Array.emptyByteArray)), timeoutSeconds = 60)
    if (resp.status >= 400)
      throw new java.io.IOException(
        s"R2 CopyObject $src -> $dst failed: HTTP ${resp.status}")
  }
  private def deleteObject(key: String): Unit = {
    val resp = Http.send("DELETE", s"$endpoint/$bucket/$key", auth, timeoutSeconds = 60)
    if (resp.status >= 400 && resp.status != 404)
      throw new java.io.IOException(s"R2 DELETE $key failed: HTTP ${resp.status}")
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSz: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (!writeEnabled) throw ro
    if (!overwrite && exists(f))
      throw new FileAlreadyExistsException(f.toString)
    val key = keyOf(f)
    // spool to LOCAL DISK, publish with one streaming PUT on close: an
    // on-heap whole-object buffer caps files at ~2 GB and holds every
    // in-flight part file in memory (a compact rewriting a large index
    // would OOM on its first wide task) — this is s3a's disk-spool
    // answer, sized by local scratch instead of executor heap. The PUT
    // stays the single atomic publish point.
    val spool = java.nio.file.Files.createTempFile("r2spool", ".tmp")
    // an ABANDONED stream (killed task, caller exception before close)
    // never reaches the close()-side delete — register the spool for
    // JVM-exit cleanup so task retries can't accumulate multi-GB
    // orphans in local scratch for the life of the executor and beyond
    spool.toFile.deleteOnExit()
    val fileOut = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(spool))
    val out = new java.io.OutputStream {
      private var closed = false
      override def write(b: Int): Unit = fileOut.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        fileOut.write(b, off, len)
      override def close(): Unit = if (!closed) {
        closed = true
        fileOut.close()
        try {
          // the PUT's budget scales with the file (1 MiB/s, at least 300 s):
          // a fixed cap fails exactly the multi-GB uploads the spool is for
          val budget = math.max(300L, java.nio.file.Files.size(spool) >> 20)
          val resp = Http.send("PUT", s"$endpoint/$bucket/$key", auth,
            Some(HttpRequest.BodyPublishers.ofFile(spool)), budget)
          if (resp.status >= 400)
            throw new java.io.IOException(
              s"R2 PUT $key failed: HTTP ${resp.status}")
        } finally java.nio.file.Files.deleteIfExists(spool): Unit
      }
    }
    new FSDataOutputStream(out, statistics)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(
      "append is not expressible over the S3 object API")

  override def rename(src: Path, dst: Path): Boolean = {
    if (!writeEnabled) throw ro
    val ss = try getFileStatus(src) catch {
      case _: java.io.FileNotFoundException => return false
    }
    val target = (try Some(getFileStatus(dst)) catch {
      case _: java.io.FileNotFoundException => None
    }) match {
      case Some(d) if d.isDirectory => new Path(dst, src.getName)
      case Some(_) => return false // dst exists as a file
      case None => dst
    }
    if (keyOf(target) == keyOf(src)) return true
    if (!ss.isDirectory) {
      copyObject(keyOf(src), keyOf(target))
      deleteObject(keyOf(src))
    } else {
      val sk = keyOf(src) + "/"
      val dk = keyOf(target) + "/"
      if (dk.startsWith(sk)) return false // cannot move a dir into itself
      val (objs, _) = listObjects(sk, delimited = false)
      if (objs.isEmpty) putObject(dk, Array.emptyByteArray) // marker-only dir
      objs.foreach { o =>
        copyObject(o.key, dk + o.key.stripPrefix(sk))
        deleteObject(o.key)
      }
    }
    true
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (!writeEnabled) throw ro
    val st = try getFileStatus(f) catch {
      case _: java.io.FileNotFoundException => return false
    }
    val key = keyOf(f)
    if (!st.isDirectory) { deleteObject(key); true }
    else {
      val prefix = if (key.isEmpty) "" else key + "/"
      val (objs, _) = listObjects(prefix, delimited = false)
      val children = objs.filter(_.key != prefix)
      if (!recursive && children.nonEmpty)
        throw new java.io.IOException(s"$f is non-empty and recursive=false")
      children.foreach(o => deleteObject(o.key))
      if (key.nonEmpty) deleteObject(prefix) // the dir marker, if any
      true
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    if (!writeEnabled) throw ro
    val key = keyOf(f)
    // virtual dirs: one zero-byte marker at the deepest level implies
    // every ancestor for getFileStatus's prefix probe
    if (key.nonEmpty && !exists(f)) putObject(key + "/", Array.emptyByteArray)
    true
  }

  private var wd = new Path("/")
  override def setWorkingDirectory(dir: Path): Unit = { wd = dir }
  override def getWorkingDirectory: Path = wd
}

/** Seekable byte-ranged reader: sequential reads come from a bounded
  * read-ahead buffer (one ranged GET per `chunk` bytes); positioned
  * reads (parquet footer, column chunks) seek first. No state beyond the
  * buffer — safe for Hadoop's per-split readers.
  */
private[r2] class R2InputStream(url: String, length: Long,
                                auth: Map[String, String],
                                chunk: Int = 256 * 1024)
    extends FSInputStream {

  private var pos = 0L
  private var bufStart = 0L
  private var buf: Array[Byte] = Array.emptyByteArray

  override def seek(p: Long): Unit = {
    if (p < 0 || p > length) throw new java.io.EOFException(s"seek($p) len=$length")
    pos = p
  }
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  private def fill(at: Long, want: Int): Unit = {
    val end = math.min(length, at + math.max(want, chunk)) - 1
    val resp = Http.send("GET", url, auth + ("Range" -> s"bytes=$at-$end"))
    if (resp.status != 206 && resp.status != 200)
      throw new java.io.IOException(s"R2 ranged GET failed: HTTP ${resp.status}")
    buf = resp.body
    bufStart = at
  }

  override def read(): Int = {
    val one = new Array[Byte](1)
    if (read(one, 0, 1) == -1) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (pos >= length) return -1
    if (pos < bufStart || pos >= bufStart + buf.length) fill(pos, len)
    val avail = (bufStart + buf.length - pos).toInt
    val n = math.min(len, avail)
    System.arraycopy(buf, (pos - bufStart).toInt, b, off, n)
    pos += n
    n
  }

  override def close(): Unit = { buf = Array.emptyByteArray }
}
