package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED SET OF 64-BIT KEYS on the shared index-lifecycle protocol
  * ([[IndexLifecycle]]) — the third index family next to the LSH and IVF
  * indexes: build once, append novel keys per ingest batch (crash-safe,
  * idempotent by `appendId`, single-writer-leased), compact periodically.
  * Its first consumer is [[ParagraphDedup]]'s seen-unit store (keep-first
  * boilerplate removal across a GROWING corpus — the CCNet pass as a
  * day-2 ingest stage), but the layout is just "a durable hash set", so
  * any membership-keyed stage (seen URLs, served IDs) can ride it.
  *
  * Layout under `path`: `keys/` parquet (`h` LONG + the attempt tag),
  * `meta/` one row (`n_keys`, `key_buckets`), `_commits/` markers,
  * `_lock` writer lease. With `buckets > 0` the keys are bucketed on `h`
  * (same mechanics as the LSH index's fingerprint sidecar), so the
  * store side of a membership anti/semi join needs NO exchange at query
  * time — at 10⁹ keys the batch shuffles its own 8-byte keys only.
  *
  * SET semantics are the CALLER's append contract: pass keys not yet in
  * the store (the [[ParagraphDedup]] accept stage computes exactly that
  * set). Appends dedup WITHIN the batch; a contract-violating append of
  * an already-present key is harmless to membership answers (joins are
  * semi/anti) but inflates the meta tally until the next [[compact]],
  * which folds the visible rows back to a distinct set and recounts.
  */
object UnitStore {

  private val AttemptCol = IndexLifecycle.AttemptCol

  private def keyBucketsOf(meta: org.apache.spark.sql.Row): Int =
    meta.getAs[Int]("key_buckets")

  private def readMeta(spark: SparkSession, root: HPath): org.apache.spark.sql.Row =
    IndexLifecycle.readMeta(spark, new HPath(root, "meta").toString)

  private def writeMeta(spark: SparkSession, root: HPath, nKeys: Long,
                        buckets: Int): Unit = {
    import spark.implicits._
    Seq((nKeys, buckets)).toDF("n_keys", "key_buckets")
      .write.mode("overwrite").parquet(new HPath(root, "meta").toString)
  }

  /** Marker names (appendIds) currently committed — driver metadata. */
  private def markerNames(fs: org.apache.hadoop.fs.FileSystem,
                          root: HPath): Seq[String] = {
    val dir = new HPath(root, "_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
  }

  /** Build (or REBUILD) the store from `keys.select(keyCol)` — distinct,
    * cast to LONG. Inputs analyze BEFORE anything destructive runs, so a
    * build invoked with a wrong column name leaves an existing store —
    * appends and markers included — fully readable.
    */
  def build(keys: DataFrame, keyCol: String, path: String,
            buckets: Int = 0): Unit = {
    val spark = keys.sparkSession
    // eager analysis: a bad keyCol throws HERE, pre-lock, pre-delete
    val data = keys.select(col(keyCol).cast("long").as("h")).distinct()
      .withColumn(AttemptCol, lit(null).cast("string"))
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    val keysPath = new HPath(root, "keys")
    IndexLifecycle.withWriterLock(fs, root, "UnitStore.build",
        IndexLifecycle.lockTtlMs(spark)) {
      IndexLifecycle.clearCommits(fs, root)
      if (buckets > 0) {
        Dedup.writeBucketed(data, spark, path, "keys", keysPath, "_build",
          buckets, Seq("h"), fs)
      } else {
        data.write.mode("overwrite").parquet(keysPath.toString)
      }
      Dedup.registerLock.synchronized {
        spark.sql(
          s"DROP TABLE IF EXISTS ${Dedup.indexTableName(spark, path, "keys")}"): Unit
      }
      val n = IndexLifecycle.readDir(spark, keysPath.toString).count()
      writeMeta(spark, root, n, buckets)
    }
  }

  /** The committed key set (one `h` column). Visibility resolves through
    * the commit markers; `excludeAppendIds` hides named committed appends
    * (replay determinism — see [[IndexLifecycle.committedAttempts]]).
    * Bucketed stores read through their catalog registration, so a
    * membership join's store side plans with no exchange.
    */
  def read(spark: SparkSession, path: String,
           excludeAppendIds: Seq[String] = Nil): DataFrame = {
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    val keysPath = new HPath(root, "keys")
    IndexLifecycle.recoverSwap(fs, keysPath)
    require(fs.exists(keysPath),
      s"no unit store at $path — build one with UnitStore.build")
    val meta = readMeta(spark, root)
    val kb = keyBucketsOf(meta)
    val df =
      if (kb > 0)
        spark.table(Dedup.registerIndexTable(spark, path, "keys", kb, Seq("h")))
      else IndexLifecycle.readDir(spark, keysPath.toString)
    IndexLifecycle.visibleRows(df,
      IndexLifecycle.committedAttempts(fs, root, excludeAppendIds), root)
  }

  /** Append a batch of keys (deduped within the batch; the caller passes
    * keys NOT already in the store — see the object doc). Same contract
    * as the other index families: rows land tagged with a fresh attempt
    * id, ONE atomic marker rename publishes them, a crash mid-append is
    * invisible, and a retry of a committed `appendId` is a no-op — so
    * `foreachBatch` drivers key the id on the micro-batch id. The meta
    * tally is incremental (committed `n_keys` + this batch's distinct
    * count, observed on the keys write — nothing over the store's data);
    * [[compact]] recounts exactly.
    */
  def append(keys: DataFrame, keyCol: String, path: String,
             appendId: Option[String] = None): Unit = {
    val spark = keys.sparkSession
    val data0 = keys.select(col(keyCol).cast("long").as("h")).distinct()
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    val keysPath = new HPath(root, "keys")
    val id = appendId.getOrElse(java.util.UUID.randomUUID().toString)
    IndexLifecycle.validateAppendId(id)
    if (fs.exists(IndexLifecycle.markerPath(root, id)))
      return // already committed — idempotent no-op
    IndexLifecycle.withWriterLock(fs, root, "UnitStore.append",
        IndexLifecycle.lockTtlMs(spark)) {
      // under the lease: swap recovery renames dirs and must never race
      // a live compact's two-rename window
      IndexLifecycle.recoverSwap(fs, keysPath)
      val meta = readMeta(spark, root)
      val kb = keyBucketsOf(meta)
      val attempt = java.util.UUID.randomUUID().toString
      val nNew = IndexLifecycle.countedWrite(
          data0.withColumn(AttemptCol, lit(attempt))) { data =>
        if (kb > 0) {
          data.repartition(kb, col("h")).write.mode("append")
            .insertInto(Dedup.registerIndexTable(spark, path, "keys", kb, Seq("h")))
        } else {
          data.write.mode("append").parquet(keysPath.toString)
        }
      }
      IndexLifecycle.commitMarker(fs, root, id, attempt)
      writeMeta(spark, root, meta.getAs[Long]("n_keys") + nNew, kb)
    }
  }

  /** The meta tally — one one-row read, maintained incrementally by
    * appends (can lag by one batch after a crash between an append's
    * marker and its meta rewrite; [[compact]] reconciles).
    */
  def committedKeys(spark: SparkSession, path: String): Long = {
    val (_, root) = IndexLifecycle.fsFor(spark, path)
    readMeta(spark, root).getAs[Long]("n_keys")
  }

  /** Exact committed DISTINCT key count — one narrow scan of the store;
    * the reconciler, not the per-run bookkeeping read.
    */
  def keyCount(spark: SparkSession, path: String): Long =
    read(spark, path).distinct().count()

  /** Fold committed appends to base rows, dedup back to a SET, drop
    * crashed-attempt garbage, tombstone the markers (a folded appendId
    * still no-ops on retry), recount the meta tally. Same offline-op /
    * single-writer / swap-recovery contract as the LSH compact.
    *
    * `keepAppendIds` names committed appends to carry through UNFOLDED —
    * rows keep their attempt tag, markers keep their payload — so a
    * later read excluding one of those ids still hides its rows. The
    * streaming rewrite loops depend on this: they compact at the START
    * of a batch, keeping the batch's OWN appendId, because a previous
    * attempt of the same batch may have appended and committed its
    * marker without reaching the stream's checkpoint commit — folding it
    * would disarm the replay's `excludeAppendIds` hook and the replay
    * would drop the batch against itself, overwriting correct output
    * (the documented crash-anywhere/replay-identical contract).
    */
  def compact(spark: SparkSession, path: String,
              keepAppendIds: Seq[String] = Nil): Unit = {
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    IndexLifecycle.withWriterLock(fs, root, "UnitStore.compact",
        IndexLifecycle.lockTtlMs(spark)) {
      val keysLive = new HPath(root, "keys")
      IndexLifecycle.recoverSwap(fs, keysLive)
      val meta = readMeta(spark, root)
      val kb = keyBucketsOf(meta)
      val committed = IndexLifecycle.committedAttempts(fs, root, keepAppendIds)
      val keptAttempts = IndexLifecycle.committedAttemptsOf(fs, root, keepAppendIds)
      val raw = IndexLifecycle.readDir(spark, keysLive.toString)
      val foldedBase = IndexLifecycle.visibleRows(raw, committed, root)
        .distinct()
        .withColumn(AttemptCol, lit(null).cast("string"))
      val folded =
        if (keptAttempts.isEmpty) foldedBase
        else foldedBase.unionByName(
          raw.filter(col(AttemptCol).isin(keptAttempts: _*)))
      val keysNew = new HPath(root, "keys.compact")
      fs.delete(keysNew, true): Unit
      if (kb > 0) {
        Dedup.writeBucketed(folded, spark, path, "keys", keysNew, "_compact",
          kb, Seq("h"), fs)
      } else {
        folded.write.parquet(keysNew.toString)
      }
      IndexLifecycle.swapDir(fs, keysLive, keysNew)
      IndexLifecycle.foldMarkers(fs, root, keep = keepAppendIds.toSet)
      Dedup.registerLock.synchronized {
        spark.sql(
          s"DROP TABLE IF EXISTS ${Dedup.indexTableName(spark, path, "keys")}"): Unit
      }
      val n = IndexLifecycle.readDir(spark, keysLive.toString).count()
      writeMeta(spark, root, n, kb)
    }
  }
}
