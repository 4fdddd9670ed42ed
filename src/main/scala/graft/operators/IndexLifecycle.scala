package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** A persisted index whose on-disk layout this code does not read: data
  * rows without the `append_attempt` column, or a `meta` row missing one
  * of the current columns. Raised by queries, appends and compactions
  * before they write anything; the fix is to rebuild the index from its
  * source corpus.
  */
final class UnsupportedIndexLayoutException(root: HPath, detail: String)
  extends IllegalStateException(
    s"index at $root has an unsupported on-disk layout ($detail) — rebuild it")

/** Shared commit-marker machinery for PERSISTED index layouts —
  * [[Dedup]]'s LSH index and [[SimilaritySearch]]'s IVF index run the
  * same day-2 lifecycle (build once, append accepted batches, compact
  * periodically), so they share one durability protocol:
  *
  *  - appends write their data rows tagged with a fresh attempt id,
  *    then publish them with ONE atomic marker rename under
  *    `_commits/<appendId>` — data first, marker last;
  *  - readers resolve visibility through the markers
  *    ([[visibleRows]]), so a crashed append is invisible and a
  *    retried `appendId` is a no-op (at-least-once drivers like
  *    Structured Streaming's `foreachBatch` become idempotent by
  *    keying the id on the batch id);
  *  - compactions fold committed rows to base (null attempt), drop
  *    crashed-attempt garbage, and truncate markers to empty
  *    idempotency TOMBSTONES (a folded appendId still no-ops — a
  *    replay of a batch committed before the compact must not
  *    re-append).
  *
  * All layout I/O goes through the Hadoop FileSystem API, so indexes
  * work on any supported store (`file:`, `hdfs:`, `s3a:`, the repo's
  * `r2:`), and every guarantee is paid in O(appends) driver-side
  * metadata — never data-proportional work (see SCALE.md round 16).
  *
  * Bookkeeping reads run on the driver, not as Spark jobs: the one-row
  * `meta` goes through [[readMeta]] and the LSH index's and unit
  * store's data dirs through [[readDir]], each one parquet footer read.
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

  /** The Spark schema in a parquet file's footer — the row metadata
    * Spark writes, else the converted parquet schema (what schema
    * inference reads).
    */
  private def footerSchema(spark: SparkSession, file: HPath): StructType = {
    val fm = scala.util.Using.resource(ParquetFileReader.open(
        HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf())))(
      _.getFooter.getFileMetaData)
    Option(fm.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
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

  /** The one row of an index's `meta` dir, read on the driver: no Spark
    * job. Same values and (nullable) schema as
    * `spark.read.parquet(dir).head()`; callers check its columns with
    * [[requireLayout]]. Meta columns are INT or BIGINT; any other type
    * is rejected.
    */
  def readMeta(spark: SparkSession, dir: String): Row = {
    val (fs, qualified) = fsFor(spark, dir)
    val files = dataFiles(fs, qualified)
    require(files.nonEmpty, s"no index meta at $dir")
    val schema = StructType(footerSchema(spark, files.head)
      .fields.map(_.copy(nullable = true)))
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
    * the batch (the appends' incremental meta tallies use it).
    */
  def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = org.apache.spark.sql.Observation()
    write(df.observe(rows, count(lit(1)).as("n")))
    rows.get("n").asInstanceOf[Long]
  }

  def markerPath(root: HPath, id: String): HPath =
    new HPath(new HPath(root, "_commits"), id)

  def validateAppendId(id: String): Unit =
    require(!id.contains("/") && !id.startsWith("."),
      s"appendId must be a plain marker-file name, got '$id'")

  /** Attempt ids of COMMITTED appends — one marker per appendId under
    * `_commits/`; empty (tombstone) markers contribute no attempt.
    * Driver-side listing, O(appends since the last compact).
    *
    * `excludeAppendIds` hides the named committed appends — the
    * REPLAY-DETERMINISM hook: a retried micro-batch that reads an index
    * excluding its OWN appendId sees the index exactly as its first run
    * did, even when that run's append already committed, so recomputed
    * accept/rewrite results are identical across retries (the ingest
    * loops whose PRODUCT is the per-batch computation — not just the
    * index state — depend on this; see
    * [[graft.streaming.DocsStream.runParagraphDedupLoopAsStream]]).
    */
  def committedAttempts(fs: FileSystem, root: HPath,
                        excludeAppendIds: Seq[String] = Nil): Seq[String] = {
    val dir = new HPath(root, "_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !excludeAppendIds.contains(s.getPath.getName))
      .flatMap { st =>
        val s = scala.util.Using.resource(fs.open(st.getPath))(in =>
          scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        if (s.nonEmpty) Some(s) else None
      }
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

  /** Publish an append: write the marker to a dot-temp and rename into
    * place — the rename is the atomic publish point, so a half-written
    * marker (crash between create and close) can never be mistaken for
    * a commit and silently drop the batch on retry. Tolerates an
    * existing marker (an earlier commit of the same appendId won; this
    * attempt's rows stay invisible garbage until the next compact).
    */
  def commitMarker(fs: FileSystem, root: HPath, id: String,
                   attempt: String): Unit = {
    val commitsDir = new HPath(root, "_commits")
    fs.mkdirs(commitsDir): Unit
    val tmp = new HPath(commitsDir, s".$id.tmp")
    scala.util.Using.resource(fs.create(tmp, true)) { out =>
      out.write(attempt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val marker = new HPath(commitsDir, id)
    if (!fs.rename(tmp, marker)) {
      fs.delete(tmp, false): Unit
      if (!fs.exists(marker))
        throw new java.io.IOException(s"failed to commit append marker $marker")
    }
  }

  /** Attempt ids of the SPECIFIC committed appendIds named in `ids` —
    * the complement of [[committedAttempts]]'s exclude list; used by
    * compacts that must carry a named append through UNFOLDED (see
    * `keepAppendIds` on [[graft.operators.UnitStore.compact]]).
    */
  def committedAttemptsOf(fs: FileSystem, root: HPath,
                          ids: Seq[String]): Seq[String] = {
    if (ids.isEmpty) return Nil
    ids.flatMap { id =>
      val p = markerPath(root, id)
      if (!fs.exists(p)) None
      else {
        val s = scala.util.Using.resource(fs.open(p))(in =>
          scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        if (s.nonEmpty) Some(s) else None
      }
    }
  }

  /** Truncate every marker to an empty tombstone (post-compact): the
    * appendId keeps no-op'ing on retry while its (folded) attempt id
    * no longer gates any rows. Orphaned dot-temps are removed. Markers
    * named in `keep` are left INTACT (payload and all) — their appends
    * were carried through the compact unfolded, so their attempt ids
    * must keep gating their rows.
    */
  def foldMarkers(fs: FileSystem, root: HPath,
                  keep: Set[String] = Set.empty): Unit = {
    val commits = new HPath(root, "_commits")
    if (fs.exists(commits)) fs.listStatus(commits).foreach { st =>
      if (st.getPath.getName.startsWith("."))
        fs.delete(st.getPath, false): Unit
      else if (st.getLen > 0 && !keep.contains(st.getPath.getName))
        fs.create(st.getPath, true).close()
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
      try {
        scala.util.Using.resource(fs.open(lock))(in =>
          scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      } catch { case _: java.io.IOException => "<unknown>" }
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
    val holder = scala.util.Using.resource(fs.open(lock))(in =>
      scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
    if (holder != owner) return false
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
}
