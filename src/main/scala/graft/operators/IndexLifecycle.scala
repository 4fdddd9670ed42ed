package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** A persisted index whose on-disk layout this code does not read: data
  * rows without the `append_attempt` column, or a `meta` row missing one
  * of the current columns. Raised by queries, appends and compactions
  * before they write anything; the fix is to rebuild the index from its
  * source corpus.
  */
final class UnsupportedIndexLayoutException(root: HPath, detail: String)
  extends IllegalStateException(
    s"index at $root has an unsupported on-disk layout ($detail) — rebuild it")

/** The one store core of the PERSISTED index layouts — [[Dedup]]'s LSH
  * index, [[UnitStore]]'s seen-unit store and [[SimilaritySearch]]'s IVF
  * index run the same day-2 lifecycle (build once, append accepted
  * batches, compact periodically), so they share one durability protocol
  * and one implementation of it. A store only declares what its dirs
  * hold ([[Store]]: data dir names, each dir's [[Layout]], its meta
  * columns); [[append]] and [[compact]] run the sequences:
  *
  *  - an append validates its appendId, no-ops on a committed marker
  *    (BEFORE the lease, so a restarted at-least-once driver replaying
  *    finished batches is never refused), takes the single-writer lease,
  *    repairs every dir's swap window, reads the meta and probes the
  *    layout of every present dir, writes its rows tagged with a fresh
  *    attempt id, then publishes them with ONE atomic marker rename under
  *    `_commits/<appendId>` — data first, marker last. The marker is the
  *    whole record of the append: its attempt id and the rows it added
  *    to the store's tally dir ([[Marker]]), counted on the write;
  *  - readers resolve visibility through the markers
  *    ([[visibleRows]]), so a crashed append is invisible and a
  *    retried `appendId` is a no-op (at-least-once drivers like
  *    Structured Streaming's `foreachBatch` become idempotent by
  *    keying the id on the batch id);
  *  - a compact takes the lease and repairs, folds every present dir's
  *    committed rows to base (null attempt) into a `.compact` side dir —
  *    all side dirs before the first swap — drops crashed-attempt
  *    garbage, swaps each dir in ([[swapDir]]), drops the stale catalog
  *    registrations, then rewrites each marker as an idempotency
  *    TOMBSTONE that keeps its row count but no attempt id (a folded
  *    appendId still no-ops — a replay of a batch committed before the
  *    compact must not re-append).
  *
  * `meta` is written only by a build, which records the count it wrote;
  * a store's committed count ([[Open.tally]]) is that count plus every
  * marker's, read from the same `_commits/` listing each open makes. A
  * marker publishes its rows and its count in one rename, so the count
  * is exact in every crash window of append and compact.
  *
  * All layout I/O goes through the Hadoop FileSystem API, so indexes
  * work on any supported store (`file:`, `hdfs:`, `s3a:`, the repo's
  * `r2:`), and every guarantee is paid in O(appends) driver-side
  * metadata — never data-proportional work (see SCALE.md round 16).
  *
  * Bookkeeping reads run on the driver, not as Spark jobs: the one-row
  * `meta` goes through [[readMeta]] and the unpartitioned data dirs
  * through [[readDir]], each one parquet footer read.
  * A plain `spark.read.parquet(dir)` launches a schema-inference job
  * per call, and `head()` a second; an ingest loop paid both several
  * times per micro-batch.
  *
  * The ingest loops hold their batch frames (the accepted docs, the
  * unit-occurrence table) as SNAPSHOTS
  * ([[org.apache.spark.sql.GraftColumnShim.snapshot]]), not `persist()`:
  * the batch frames READ the index dirs that the batch's own appends
  * then WRITE, and each file write makes Spark's CacheManager drop
  * every cached plan over the written path. A persisted batch frame was
  * therefore recomputed — its whole dedup plan, broadcasts included —
  * by every action after the first append. A snapshot is invisible to
  * the CacheManager, so the batch is computed once.
  */
private[graft] object IndexLifecycle {

  /** Data rows carry the attempt id that wrote them; null = base. */
  val AttemptCol = "append_attempt"

  /** FileSystem + fully-qualified root for an index path. */
  def fsFor(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  /** Data files of a parquet dir in the order Spark's non-merging schema
    * inference considers them: sorted by path, hidden (`_`/`.`) names
    * skipped. Empty when the dir is missing or holds no such file.
    */
  private def dataFiles(fs: FileSystem, dir: HPath): Seq[HPath] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.toString)

  /** Spark's footer key for the row schema it wrote. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema in a parquet file's footer — the row metadata
    * Spark writes, else the converted parquet schema (what schema
    * inference reads).
    */
  private def footerSchema(spark: SparkSession, file: HPath): StructType = {
    val fm = scala.util.Using.resource(ParquetFileReader.open(
        HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf())))(
      _.getFooter.getFileMetaData)
    Option(fm.getKeyValueMetaData.get(RowMetadataKey))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(fm.getSchema))
  }

  /** `spark.read.parquet(dir)` without the schema-inference job: the
    * schema comes from the first data file's footer, read on the driver
    * — the one footer Spark's own (non-merging) inference reads; the
    * reader makes it nullable, as inference does. A dir with no data
    * file at its top level falls back to plain inference, so errors and
    * partitioned layouts behave as before.
    */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val (fs, qualified) = fsFor(spark, dir)
    dataFiles(fs, qualified).headOption match {
      case Some(f) => spark.read.schema(footerSchema(spark, f)).parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  /** [[writeMeta]]'s file name for generation `g`; a larger `g` is newer. */
  private val MetaFile = """meta-(\d{19})\.parquet""".r

  /** Data files of the `meta` dir, newest first: [[writeMeta]]'s files
    * by generation, then any other (a meta written by Spark) in path
    * order.
    */
  private def metaFiles(fs: FileSystem, dir: HPath): Seq[HPath] =
    dataFiles(fs, dir).sortBy(f => f.getName match {
      case MetaFile(g) => -g.toLong
      case _ => 1L
    })

  /** The one row of the `meta` dir of the store at `root`, read on the
    * driver from its newest file: no Spark job. Same values and
    * (nullable) schema as `spark.read.parquet(dir).head()` over a dir
    * holding one file. A row lacking one of `required` fails with
    * [[UnsupportedIndexLayoutException]]. Meta columns are INT or BIGINT;
    * any other type is rejected.
    */
  def readMeta(spark: SparkSession, root: HPath, required: String*): Row = {
    val dir = new HPath(root, "meta").toString
    val (fs, qualified) = fsFor(spark, dir)
    val files = metaFiles(fs, qualified)
    require(files.nonEmpty, s"no index meta at $dir")
    val schema = StructType(footerSchema(spark, files.head)
      .fields.map(_.copy(nullable = true)))
    requireLayout(root, "meta", schema.fieldNames.toSeq, required: _*)
    def firstRow(f: HPath): Option[Group] =
      scala.util.Using.resource(ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(spark.sessionState.newHadoopConf()).build())(r => Option(r.read()))
    val g = files.iterator.flatMap(firstRow).nextOption().getOrElse(
      throw new IllegalStateException(s"index meta at $dir holds no row"))
    val values = schema.fields.map { fd =>
      if (g.getFieldRepetitionCount(fd.name) == 0) null
      else fd.dataType match {
        case IntegerType => g.getInteger(fd.name, 0)
        case LongType => g.getLong(fd.name, 0)
        case t => throw new IllegalArgumentException(
          s"index meta at $dir: unsupported column ${fd.name} of type $t")
      }
    }
    new GenericRowWithSchema(values, schema)
  }

  /** Run `write` over `df` and return the number of rows it wrote,
    * counted by an observation on the write itself — no second job over
    * the rows (builds record it in `meta`, appends in their marker).
    */
  def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = org.apache.spark.sql.Observation()
    write(df.observe(rows, count(lit(1)).as("n")))
    rows.get("n").asInstanceOf[Long]
  }

  /** Replace the one-row `meta` of the store at `root` with `cols`
    * (name -> Int or Long value), every column non-null: the footer a
    * tuple's `toDF` writes, Spark's row-metadata key included. Written on
    * the driver, no Spark job: the row goes to a hidden temp file, which
    * is renamed to the next generation's name, and only then are the
    * older files deleted. At every instant `meta` holds a complete file,
    * and [[readMeta]] reads the newest; a crash anywhere leaves the
    * previous or the new row readable.
    */
  def writeMeta(spark: SparkSession, root: HPath, cols: (String, Any)*): Unit = {
    val schema = StructType(cols.map { case (c, v) =>
      StructField(c, v match { case _: Long => LongType; case _ => IntegerType },
        nullable = false)
    })
    val parquetSchema = schema.fields.foldLeft(
        Types.buildMessage(): Types.GroupBuilder[MessageType]) { (b, f) =>
      b.required(if (f.dataType == LongType) INT64 else INT32).named(f.name)
    }.named("spark_schema")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, dir) = fsFor(spark, new HPath(root, "meta").toString)
    val older = if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath) else Nil
    val gen = older.map(_.getName).collect { case MetaFile(g) => g.toLong + 1 }.maxOption
      .getOrElse(0L)
    val tmp = new HPath(dir, s".meta-${java.util.UUID.randomUUID()}.tmp")
    val dest = new HPath(dir, f"meta-$gen%019d.parquet")
    val row = new SimpleGroupFactory(parquetSchema).newGroup()
    cols.foreach {
      case (c, v: Long) => row.add(c, v)
      case (c, v) => row.add(c, v.asInstanceOf[Int])
    }
    scala.util.Using.resource(ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(parquetSchema)
        .withExtraMetaData(java.util.Map.of(RowMetadataKey, schema.json)).build())(
      _.write(row))
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"could not rename $tmp to $dest")
    older.filterNot(_.getName == dest.getName).foreach(fs.delete(_, true))
  }

  /** A small file's content as a trimmed UTF-8 string. */
  private def readString(fs: FileSystem, p: HPath): String =
    scala.util.Using.resource(fs.open(p))(in =>
      scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)

  def markerPath(root: HPath, id: String): HPath =
    new HPath(new HPath(root, "_commits"), id)

  def validateAppendId(id: String): Unit =
    require(!id.contains("/") && !id.startsWith("."),
      s"appendId must be a plain marker-file name, got '$id'")

  /** What the marker `_commits/<appendId>` of a committed append
    * records: the attempt id its rows carry — none once a compact folded
    * them to base rows, a TOMBSTONE that stays the appendId's idempotency
    * record — and the rows it added to the store's tally dir (0 for a
    * store without one). Payload: `<rows>` or `<rows> <attempt>`.
    */
  final case class Marker(attempt: Option[String], rows: Long) {
    def payload: String = (rows.toString +: attempt.toSeq).mkString(" ")
  }

  /** Every committed marker of the store at `root`, with its appendId:
    * one driver-side listing of `_commits/` and one small read per
    * marker, O(appends since the build). Dot-temps — a marker write in
    * flight, or one a crash cut short — are skipped.
    */
  def markers(fs: FileSystem, root: HPath): Seq[(String, Marker)] = {
    val dir = new HPath(root, "_commits")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> (readString(fs, st.getPath).split(" ", 2) match {
        case Array(n) => Marker(None, n.toLong)
        case Array(n, attempt) => Marker(Some(attempt), n.toLong)
      }))
  }

  /** Throw [[UnsupportedIndexLayoutException]] for the index at `root`
    * unless `columns` (of its `part`: a data dir or `meta`) holds every
    * one of `required`. Runs before an operation writes anything, so a
    * refused index is left exactly as it was.
    */
  def requireLayout(root: HPath, part: String, columns: Seq[String],
                    required: String*): Unit = {
    val missing = required.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new UnsupportedIndexLayoutException(root,
        s"$part lacks ${missing.mkString(", ")}")
  }

  /** Base rows (null attempt) plus rows of committed appends; rows of
    * uncommitted attempts are invisible. Data rows without the attempt
    * column fail with [[UnsupportedIndexLayoutException]] naming `root`.
    * The filter is a scan-local predicate on a constant column — it
    * adds no exchange, so layout plan properties (bucketed distribution,
    * partition pruning) survive it.
    */
  def visibleRows(df: DataFrame, committed: Seq[String], root: HPath): DataFrame = {
    requireLayout(root, "data", df.columns.toSeq, AttemptCol)
    val keep =
      if (committed.isEmpty) col(AttemptCol).isNull
      else col(AttemptCol).isNull || col(AttemptCol).isin(committed: _*)
    df.filter(keep).drop(AttemptCol)
  }

  /** Write `_commits/<id>`: the payload goes to a dot-temp that is
    * renamed into place — the rename is the atomic publish point, so a
    * half-written marker (crash between create and close) is never read.
    * A commit tolerates an existing marker on a store that will not
    * rename over a file: an earlier commit of the same appendId won, and
    * this attempt's rows stay invisible garbage until the next compact.
    * A tombstone there overwrites the marker in place instead, one PUT on
    * an object store; either way the row count is unchanged.
    */
  def writeMarker(fs: FileSystem, root: HPath, id: String, m: Marker): Unit = {
    val commitsDir = new HPath(root, "_commits")
    fs.mkdirs(commitsDir): Unit
    def put(p: HPath): Unit = scala.util.Using.resource(fs.create(p, true)) { out =>
      out.write(m.payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val tmp = new HPath(commitsDir, s".$id.tmp")
    put(tmp)
    val marker = new HPath(commitsDir, id)
    if (!fs.rename(tmp, marker)) {
      fs.delete(tmp, false): Unit
      if (!fs.exists(marker))
        throw new java.io.IOException(s"failed to write append marker $marker")
      if (m.attempt.isEmpty) put(marker)
    }
  }

  /** Remove the marker dir entirely — for REBUILDS, which erase the
    * appended rows themselves (stale markers would be harmless but
    * would ride every later read until a compact).
    */
  def clearCommits(fs: FileSystem, root: HPath): Unit =
    fs.delete(new HPath(root, "_commits"), true): Unit

  /** Default writer-lease TTL (10 min); per-session override via the
    * `spark.graft.index.lock.ttl.ms` conf.
    */
  val DefaultLockTtlMs: Long = 600000L

  def lockTtlMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.index.lock.ttl.ms")
      .map(_.toLong).getOrElse(DefaultLockTtlMs)

  /** Run `body` holding the index's SINGLE-WRITER lease — a best-effort
    * lock file `_lock` under the index root that turns the documented
    * "one logical writer at a time" contract into a check: two loops
    * pointed at one index would otherwise interleave appends that can
    * each accept the same near-dup (a semantic race with no error), so
    * the second writer now fails loudly with
    * [[java.util.ConcurrentModificationException]] instead.
    *
    * Mechanics: `create(overwrite = false)` is the acquire (atomic on
    * HDFS/local; check-then-put on object stores — hence BEST-EFFORT,
    * like any lock file there); the payload names the owner for the
    * error message; staleness is judged by the lock file's MODIFICATION
    * TIME (robust to a crash between create and payload write), and a
    * lock older than `ttlMs` is broken once — a writer that crashed
    * mid-operation blocks successors only until the TTL lapses, after
    * which the commit-marker protocol makes the retry safe anyway.
    * Retries of a COMMITTED append no-op on their marker BEFORE
    * reaching the lock, so a restarted at-least-once driver is never
    * refused for work that already finished.
    */
  def withWriterLock[T](fs: FileSystem, root: HPath, op: String,
                        ttlMs: Long = DefaultLockTtlMs)(body: => T): T = {
    val lock = new HPath(root, "_lock")
    val owner = s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}/" +
      java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean =
      try {
        scala.util.Using.resource(fs.create(lock, false)) { out =>
          out.write(owner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        true
      } catch {
        case _: java.io.IOException if fs.exists(lock) => false
      }
    def holderOf(): String =
      try readString(fs, lock)
      catch { case _: java.io.IOException => "<unknown>" }
    if (!tryAcquire()) {
      val st = try Some(fs.getFileStatus(lock)) catch {
        case _: java.io.FileNotFoundException => None
      }
      val stale = st.forall(s =>
        System.currentTimeMillis() - s.getModificationTime > ttlMs)
      if (stale) fs.delete(lock, false): Unit
      if (!stale || !tryAcquire()) {
        throw new java.util.ConcurrentModificationException(
          s"$op: index at $root is locked by another writer (${holderOf()}, " +
            s"lock age ${st.map(s => System.currentTimeMillis() - s.getModificationTime)
              .getOrElse(-1L)} ms, ttl $ttlMs ms) — persisted indexes take " +
            "ONE logical writer at a time; wait for it (or for the TTL) " +
            s"or remove $lock if you know the writer is gone")
      }
    }
    // HEARTBEAT: an op that outlives the TTL (a compact rewriting a big
    // index) must not lose a LIVE lease to a successor's staleness
    // break — refresh the lock's mtime at ttl/3 so staleness only ever
    // means "holder is gone", not "holder is slow". The refresh is
    // [[refreshLease]]: it overwrites ONLY a lock that is provably still
    // ours (see its doc for the residual TOCTOU window); stores that
    // reject overwrites mid-op (or drop the write) degrade to the
    // documented TTL-must-exceed-the-op contract, never to corruption.
    val beat = new java.util.concurrent.atomic.AtomicBoolean(true)
    val heart = new Thread(new Runnable {
      override def run(): Unit = {
        while (beat.get()) {
          try Thread.sleep(math.max(ttlMs / 3, 1000L))
          catch { case _: InterruptedException => return }
          if (beat.get()) {
            try refreshLease(fs, lock, owner, ttlMs): Unit
            catch { case _: Throwable => () }
          }
        }
      }
    }, s"graft-index-lease-$op")
    heart.setDaemon(true)
    heart.start()
    try body finally {
      beat.set(false)
      heart.interrupt()
      // OWNERSHIP-CHECKED release: if the lease was (wrongly or rightly)
      // broken and re-acquired by someone else, deleting blindly would
      // admit a THIRD writer under the new holder's feet — only the
      // current owner's lock is ours to remove. A transient read error
      // must not leak OUR lease until the TTL lapses (blocking every
      // writer), so the ownership read retries once before giving up.
      try {
        val h0 = holderOf()
        val h = if (h0 == "<unknown>") { Thread.sleep(50); holderOf() } else h0
        if (h == owner) fs.delete(lock, false): Unit
      } catch { case _: java.io.IOException | _: InterruptedException => () }
    }
  }

  /** One heartbeat of the writer lease: re-create the lock file (same
    * payload) so its MODIFICATION TIME advances, keeping a live holder's
    * lease from ever reading as stale. Overwrites ONLY when the lock is
    * provably still ours on BOTH axes — the payload names `owner` AND the
    * mtime is fresher than `ttlMs`. The second check is what makes the
    * check-then-act window practically safe on object stores (where
    * `create(overwrite = true)` is unconditional): a contender only ever
    * breaks a lock whose age EXCEEDS the TTL, so a fresh mtime means no
    * legitimate break-and-reacquire can be racing this beat — the
    * remaining window is "the lock crosses the TTL boundary between the
    * status read and the create", which a beat period of ttl/3 keeps
    * three beats away from, instead of the full beat-to-break race the
    * unconditional overwrite had. A beat that finds the lock already
    * stale DECLINES to refresh (returns false): the lease is already
    * legitimately breakable, and overwriting could clobber a contender
    * that just re-acquired it — the data stays safe either way via the
    * commit markers; the holder simply reverts to the documented
    * best-effort contract. Returns true iff the lock was refreshed.
    */
  private[operators] def refreshLease(fs: FileSystem, lock: HPath,
                                      owner: String, ttlMs: Long): Boolean = {
    val st = try fs.getFileStatus(lock) catch {
      case _: java.io.FileNotFoundException => return false
    }
    if (System.currentTimeMillis() - st.getModificationTime > ttlMs) return false
    if (readString(fs, lock) != owner) return false
    scala.util.Using.resource(fs.create(lock, true)) { out =>
      out.write(owner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    true
  }

  /** Swap a compacted side dir into place: live → `.old`, fresh →
    * live, delete `.old`. A crash inside the two-rename window leaves
    * live missing with `.old` holding the pre-compact data —
    * [[recoverSwap]] (run here and at every index-open point) restores
    * it automatically, so the window costs a re-run of the compact, not
    * manual recovery. Callers order marker folding AFTER all swaps so
    * every intermediate state reads consistently.
    */
  def swapDir(fs: FileSystem, live: HPath, fresh: HPath): Unit = {
    recoverSwap(fs, live)
    val old = new HPath(live.getParent, live.getName + ".old")
    fs.delete(old, true): Unit
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"compact: cannot move $live aside")
    if (!fs.rename(fresh, live))
      throw new java.io.IOException(s"compact: cannot publish $fresh")
    fs.delete(old, true): Unit
  }

  /** Repair the [[swapDir]] crash window: a missing live dir alongside a
    * leftover `.old` means a compact died between its two renames — the
    * `.old` dir IS the pre-compact data, so restore it. A stray `.old`
    * NEXT TO a live dir is the other crash point (after publish, before
    * cleanup): the compact succeeded, the leftover is a dead copy, and
    * the next [[swapDir]]'s leading delete removes it. Two driver-side
    * existence probes per call — run it at every index-open point
    * (query, append, compact) so readers never see the torn state.
    */
  def recoverSwap(fs: FileSystem, live: HPath): Unit = {
    val old = new HPath(live.getParent, live.getName + ".old")
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new java.io.IOException(
        s"index recovery: found interrupted compact ($old exists, $live " +
          s"missing) but could not restore it — move $old back to $live manually")
  }

  // ---- the store core: data dirs, catalog registrations, sequences ---

  /** How a store lays out the rows of one data dir. */
  sealed trait Layout
  /** Plain parquet files. */
  case object Plain extends Layout
  /** Spark's bucketed layout, `n` buckets on (and sorted by) `cols`. It
    * is a catalog-table property, not a parquet one, so the dir is
    * written, appended and read through a catalog entry.
    */
  final case class Bucketed(n: Int, cols: Seq[String]) extends Layout
  /** Parquet partitioned by `col`, one directory per value. */
  final case class Partitioned(col: String) extends Layout

  /** Bucketed on `cols` when a meta row's bucket count `n` is positive,
    * else plain.
    */
  def bucketedOr(n: Int, cols: String*): Layout =
    if (n > 0) Bucketed(n, cols) else Plain

  /** One data dir of a store: its name under the root and its layout. */
  final case class DataDir(name: String, layout: Layout)

  /** What a persisted store declares; [[open]], [[append]] and
    * [[compact]] do the rest.
    *
    * @param dirNames its attempt-tagged data dirs; a dir may be absent
    *                 (the LSH index's optional `fps` sidecar)
    * @param metaCols the columns its one-row `meta` must hold; empty for
    *                 a store that keeps no meta
    * @param tally    a meta column that counts the rows of a data dir,
    *                 and that dir: a build records its count there, an
    *                 append's marker the count observed on its write
    */
  abstract class Store(val dirNames: Seq[String], val metaCols: Seq[String] = Nil,
                       val tally: Option[(String, String)] = None) {
    /** Dir `name` as `meta` (null for a store without meta) lays it out. */
    def dir(meta: Row, name: String): DataDir
    /** A compact's fold of a dir's visible rows; identity by default. */
    def fold(visible: DataFrame): DataFrame = visible
  }

  /** A store opened at `root`, its swap windows repaired. The meta row
    * and the markers resolve on first use.
    */
  final class Open private[IndexLifecycle] (val spark: SparkSession,
      val fs: FileSystem, val root: HPath, store: Store,
      excludeAppendIds: Seq[String]) {
    lazy val meta: Row =
      if (store.metaCols.isEmpty) null else readMeta(spark, root, store.metaCols: _*)
    lazy val markers: Seq[(String, Marker)] = IndexLifecycle.markers(fs, root)
    /** Attempt ids of committed appends, minus `excludeAppendIds`. */
    lazy val committed: Seq[String] = markers.collect {
      case (id, Marker(Some(attempt), _)) if !excludeAppendIds.contains(id) => attempt
    }
    /** The committed row count of the store's tally dir: the build's
      * count in `meta` plus every marker's rows — no scan of the data.
      */
    def tally: Long = meta.getAs[Long](store.tally.get._1) + markers.map(_._2.rows).sum
    def path(name: String): HPath = new HPath(root, name)
    def exists(name: String): Boolean = fs.exists(path(name))
    def dir(name: String): DataDir = store.dir(meta, name)

    /** The rows of dir `name` its commit markers make visible. A bucketed
      * dir reads through its catalog registration, so the scan carries
      * the bucket spec: a join on the bucket columns needs no exchange on
      * this side.
      */
    def visible(name: String): DataFrame = visibleRows(dir(name).layout match {
      case Bucketed(n, cols) => spark.table(registerIndexTable(spark, root, name, n, cols))
      case _ => readDir(spark, path(name).toString)
    }, committed, root)
  }

  /** Open the store at `path`: repair the swap window of every data dir
    * ([[recoverSwap]]).
    *
    * `excludeAppendIds` hides the named committed appends from
    * [[Open.visible]] — the REPLAY-DETERMINISM hook: a retried
    * micro-batch that reads a store excluding its OWN appendId sees the
    * store exactly as its first run did, even when that run's append
    * already committed, so recomputed accept/rewrite results are
    * identical across retries (the ingest loops whose PRODUCT is the
    * per-batch computation — not just the store state — depend on this;
    * see [[graft.streaming.DocsStream.runParagraphDedupLoopAsStream]]).
    */
  def open(spark: SparkSession, path: String, store: Store,
           excludeAppendIds: Seq[String] = Nil): Open = {
    val (fs, root) = fsFor(spark, path)
    opened(spark, fs, root, store, excludeAppendIds)
  }

  private def opened(spark: SparkSession, fs: FileSystem, root: HPath,
                     store: Store, excludeAppendIds: Seq[String]): Open = {
    store.dirNames.foreach(d => recoverSwap(fs, new HPath(root, d)))
    new Open(spark, fs, root, store, excludeAppendIds)
  }

  /** What [[append]] hands a store's per-batch writes: the opened store,
    * meta included, and the batch's fresh attempt id.
    */
  final class Batch private[IndexLifecycle] (s: Open, val attempt: String,
                                             tallyDir: Option[String]) {
    /** Rows written to the tally dir: the count the marker records. */
    private[IndexLifecycle] var counted = 0L
    def meta: Row = s.meta
    def root: HPath = s.root
    def exists(name: String): Boolean = s.exists(name)

    /** Append `rows` to dir `name` in its layout, tagged with this
      * batch's attempt id. A bucketed dir is appended through its catalog
      * registration: the bucketed writer hashes the bucket columns with
      * the build's family, so the files land in the right buckets, one
      * more per bucket until the next compact.
      */
    def append(name: String, rows: DataFrame): Unit = {
      def write(df: DataFrame): Unit = s.dir(name).layout match {
        case Plain => df.write.mode("append").parquet(s.path(name).toString)
        case Bucketed(n, cols) =>
          df.repartition(n, cols.map(col): _*).write.mode("append")
            .insertInto(registerIndexTable(s.spark, s.root, name, n, cols))
        case Partitioned(c) =>
          df.write.mode("append").partitionBy(c).parquet(s.path(name).toString)
      }
      val tagged = rows.withColumn(AttemptCol, lit(attempt))
      if (tallyDir.contains(name)) counted += countedWrite(tagged)(write)
      else write(tagged)
    }
  }

  /** Overwrite dir `d` of the store at `root` — or, with a suffix, its
    * side dir `<name><suffix>` — with `rows` in `d`'s layout.
    */
  def writeDir(spark: SparkSession, fs: FileSystem, root: HPath, d: DataDir,
               rows: DataFrame, suffix: String = ""): Unit = {
    val dest = new HPath(root, d.name + suffix)
    d.layout match {
      case Plain => rows.write.mode("overwrite").parquet(dest.toString)
      case Bucketed(n, cols) =>
        writeBucketed(spark, fs, root, d.name, rows, dest, n, cols,
          if (suffix.isEmpty) "_build" else "_compact")
      case Partitioned(c) =>
        rows.write.mode("overwrite").partitionBy(c).parquet(dest.toString)
    }
  }

  /** The one append sequence; the object doc gives its order. `write`
    * appends the batch's rows through [[Batch.append]]; `op` names the
    * operation in lease errors. With `appendId = None` a random id is
    * used: still all-or-nothing, but each completed call is a distinct
    * append — callers that may retry MUST pass a stable id.
    */
  def append(spark: SparkSession, path: String, store: Store, op: String,
             appendId: Option[String])(write: Batch => Unit): Unit = {
    val (fs, root) = fsFor(spark, path)
    val id = appendId.getOrElse(java.util.UUID.randomUUID().toString)
    validateAppendId(id)
    if (fs.exists(markerPath(root, id)))
      return // already committed — idempotent no-op, before the lease
    withWriterLock(fs, root, op, lockTtlMs(spark)) {
      // everything below runs UNDER the lease: swap-window recovery
      // renames dirs and must never race a live compact's two-rename
      // window, and the meta decides how the batch is written (hash
      // family, quantizer, bucket counts) — values read before
      // acquisition could be a concurrent rebuild's stale predecessors
      val s = opened(spark, fs, root, store, Nil)
      s.meta: Unit
      // layout probe: refuse data rows without the attempt tag before
      // anything is written
      store.dirNames.filter(s.exists).foreach { d =>
        requireLayout(root, d, readDir(spark, s.path(d).toString).columns.toSeq,
          AttemptCol)
      }
      val batch = new Batch(s, java.util.UUID.randomUUID().toString,
        store.tally.map(_._2))
      write(batch)
      writeMarker(fs, root, id, Marker(Some(batch.attempt), batch.counted))
    }
  }

  /** The one compact sequence; the object doc gives its order. The
    * visible row set is identical before and after, so answers cannot
    * change. Offline maintenance op: one writer, no concurrent readers.
    * `keepAppendIds` names committed appends to carry through UNFOLDED —
    * rows keep their attempt tag, markers their payload — so a later
    * read excluding one of them still hides its rows (see
    * [[UnitStore.compact]] for the streaming loops that need it).
    *
    * A crash before the first swap leaves the live dirs untouched; a
    * crash between two swaps leaves a consistent store (the un-swapped
    * dir still resolves its appends through the markers, the swapped one
    * already holds them as base rows); a crash inside a swap is repaired
    * from the `.old` dir at the next open. On stores without atomic
    * rename (S3-style) the swap is copy-backed, with the same offline-op
    * caveat as any rename-based layout maintenance there.
    */
  def compact(spark: SparkSession, path: String, store: Store, op: String,
              keepAppendIds: Seq[String] = Nil): Unit = {
    val (fs, root) = fsFor(spark, path)
    withWriterLock(fs, root, op, lockTtlMs(spark)) {
      val s = opened(spark, fs, root, store, keepAppendIds)
      val kept = s.markers.collect {
        case (id, Marker(Some(attempt), _)) if keepAppendIds.contains(id) => attempt
      }
      val dirs = store.dirNames.filter(s.exists).map(s.dir)
      // every dir's fold resolves (and its layout is checked) before the
      // first write
      val folded = dirs.map { d =>
        val raw = readDir(spark, s.path(d.name).toString)
        val base = store.fold(visibleRows(raw, s.committed, root))
          .withColumn(AttemptCol, lit(null).cast("string"))
        d -> (if (kept.isEmpty) base
              else base.unionByName(raw.filter(col(AttemptCol).isin(kept: _*))))
      }
      // unbucketed dirs: the rewrite's input partitioning bin-packs the
      // small append files (spark.sql.files.maxPartitionBytes), so they
      // land as few right-sized files without an extra shuffle; bucketed
      // dirs land as one file per bucket
      folded.foreach { case (d, rows) => writeDir(spark, fs, root, d, rows, ".compact") }
      // a swapped dir's catalog registration lists files that are gone:
      // drop it even when a later swap or marker write fails, so this
      // session's next bucketed read re-registers
      try dirs.foreach(d => swapDir(fs, s.path(d.name), s.path(d.name + ".compact")))
      finally dropRegistrations(spark, root, store.dirNames)
      // FOLD the markers to tombstones instead of deleting them: a
      // marker is also the idempotency record and carries its append's
      // count, and an at-least-once driver can replay a batch whose
      // append committed BEFORE this compact — deleting its marker would
      // let the replay re-append the folded rows. A year of daily ingest
      // keeps 365 small files.
      s.markers.foreach { case (id, m) =>
        if (m.attempt.nonEmpty && !keepAppendIds.contains(id))
          writeMarker(fs, root, id, m.copy(attempt = None))
      }
    }
  }

  /** Deterministic catalog name for a store's bucketed data dir `sub` —
    * derived from the fully-qualified root so re-registration is
    * idempotent per store, two stores never collide in one session's
    * catalog, and one store addressed through different spellings of
    * its URI resolves to one name.
    */
  private def indexTableName(root: HPath, sub: String): String = {
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(root.toString))
    s"graft_lsh_${sub}_$h"
  }

  private val registerLock = new Object

  /** Drop the catalog registrations of the store's `dirs`: after a
    * rebuild or a compact their schema, bucket count or cached file
    * listing may be stale; the next bucketed read re-registers.
    */
  def dropRegistrations(spark: SparkSession, root: HPath, dirs: Seq[String]): Unit =
    registerLock.synchronized {
      dirs.foreach(d => spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(root, d)}"): Unit)
    }

  /** Create an external bucketed parquet catalog entry with `schema`
    * VERBATIM, through the [[org.apache.spark.sql.catalyst.catalog.SessionCatalog]]
    * API (DDL round-trips and CTAS both normalize the schema on the way
    * through — `asNullable`, type-string re-parse).
    */
  private def createCatalogEntry(spark: SparkSession, name: String,
                                 loc: java.net.URI, schema: StructType,
                                 nb: Int, bucketCols: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.catalog._
    spark.sessionState.catalog.createTable(
      CatalogTable(
        identifier = org.apache.spark.sql.catalyst.TableIdentifier(name),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty.copy(locationUri = Some(loc)),
        schema = schema,
        provider = Some("parquet"),
        bucketSpec = Some(BucketSpec(nb, bucketCols, bucketCols))),
      ignoreIfExists = false)
  }

  /** Bucketed write of a data dir at `dest` via create-then-insert on a
    * throwaway catalog entry (see [[createCatalogEntry]] for why not
    * CTAS): files and bucket hashing survive the entry's drop, and reads
    * re-register from meta. Rows land pre-partitioned on the bucket
    * columns — the same pmod(hash) the bucketed writer assigns files by,
    * so each task holds exactly one bucket's rows (nb files, not
    * tasks × nb) — and sorted within buckets per the table's sort spec.
    */
  private def writeBucketed(spark: SparkSession, fs: FileSystem, root: HPath,
                            sub: String, df: DataFrame, dest: HPath, nb: Int,
                            bucketCols: Seq[String], suffix: String): Unit = {
    val tmp = indexTableName(root, sub) + suffix
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    fs.delete(dest, true): Unit
    createCatalogEntry(spark, tmp, dest.toUri, df.schema, nb, bucketCols)
    // insertInto resolves POSITIONALLY — safe because the entry's schema
    // is df's own
    df.repartition(nb, bucketCols.map(col): _*).write.insertInto(tmp)
    spark.sql(s"DROP TABLE $tmp")
  }

  /** Ensure the session catalog carries the external bucketed table for
    * one of a store's data dirs, REUSING a live registration when its
    * location, bucket spec, AND schema already match — the common case:
    * a streaming loop queries the same store every micro-batch, and a
    * DROP+CREATE per call both churned the catalog and let two
    * concurrent readers race (one's DROP between the other's
    * registration and its scan planning). The schema is re-derived from
    * the dir's parquet footers on every call (one driver-side footer
    * read), so a store rewritten out-of-band by another process — same
    * bucket count, different column types, e.g. a rebuild over STRING
    * ids replacing one over BIGINT ids — invalidates the cached entry
    * instead of being scanned through a stale schema. Re-creates on
    * absence or any mismatch (rebuild and compact also drop the entry
    * themselves), and the check-then-create is synchronized JVM-wide,
    * which covers every session of this driver (the table catalog is
    * shared state).
    *
    * Registration goes through the [[org.apache.spark.sql.catalyst.catalog.SessionCatalog]]
    * API with the parquet-derived [[org.apache.spark.sql.types.StructType]]
    * verbatim — a DDL `CREATE TABLE` round-trip would re-parse the
    * schema through its type-string grammar instead of storing what the
    * footers actually say.
    */
  private def registerIndexTable(spark: SparkSession, root: HPath, sub: String,
                                 nb: Int, bucketCols: Seq[String]): String = {
    val name = indexTableName(root, sub)
    val loc = new HPath(root, sub)
    // the on-disk schema derivation (a directory listing + one footer
    // read) happens OUTSIDE the lock: it is the slow part on object
    // stores, and serializing it JVM-wide would make every concurrent
    // reader queue behind every other's listing; the lock only needs to
    // cover the check-then-create on the shared catalog
    val onDisk = readDir(spark, loc.toString).schema
    registerLock.synchronized {
      def sig(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
      val live = spark.catalog.tableExists(name) && {
        val t = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(name))
        t.storage.locationUri.exists(u => new HPath(u).toString == loc.toString) &&
          t.bucketSpec.exists(b => b.numBuckets == nb &&
            b.bucketColumnNames == bucketCols) &&
          sig(t.schema) == sig(onDisk)
      }
      if (!live) {
        spark.sql(s"DROP TABLE IF EXISTS $name")
        createCatalogEntry(spark, name, loc.toUri, onDisk, nb, bucketCols)
      }
      name
    }
  }
}
