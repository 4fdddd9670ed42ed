package graft.operators

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
  * semi/anti), and [[compact]] folds the visible rows back to a distinct
  * set, but its marker keeps counting the key: [[committedKeys]] stays
  * inflated by it, while [[keyCount]] is exact.
  */
object UnitStore {

  private val AttemptCol = IndexLifecycle.AttemptCol

  /** `keys/` (bucketed on `h` when the meta's `key_buckets` is positive)
    * and its `n_keys` count at build.
    */
  private object Keys extends IndexLifecycle.Store(Seq("keys"),
      Seq("n_keys", "key_buckets"), Some(("n_keys", "keys"))) {
    def dir(meta: org.apache.spark.sql.Row, name: String): IndexLifecycle.DataDir =
      keysDir(meta.getAs[Int]("key_buckets"))
    /** The SET contract: a contract-violating append of a present key is
      * folded back out.
      */
    override def fold(visible: DataFrame): DataFrame = visible.distinct()
  }

  private def keysDir(buckets: Int) =
    IndexLifecycle.DataDir("keys", IndexLifecycle.bucketedOr(buckets, "h"))

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
    IndexLifecycle.withWriterLock(fs, root, "UnitStore.build",
        IndexLifecycle.lockTtlMs(spark)) {
      IndexLifecycle.clearCommits(fs, root)
      val n = IndexLifecycle.countedWrite(data)(
        IndexLifecycle.writeDir(spark, fs, root, keysDir(buckets), _))
      IndexLifecycle.dropRegistrations(spark, root, Keys.dirNames)
      IndexLifecycle.writeMeta(spark, root, "n_keys" -> n, "key_buckets" -> buckets)
    }
  }

  /** The committed key set (one `h` column). Visibility resolves through
    * the commit markers; `excludeAppendIds` hides named committed appends
    * (replay determinism — see [[IndexLifecycle.open]]).
    * Bucketed stores read through their catalog registration, so a
    * membership join's store side plans with no exchange.
    */
  def read(spark: SparkSession, path: String,
           excludeAppendIds: Seq[String] = Nil): DataFrame = {
    val store = IndexLifecycle.open(spark, path, Keys, excludeAppendIds)
    require(store.exists("keys"),
      s"no unit store at $path — build one with UnitStore.build")
    store.visible("keys")
  }

  /** Append a batch of keys (deduped within the batch; the caller passes
    * keys NOT already in the store — see the object doc) through the
    * shared [[IndexLifecycle.append]] sequence: crash-safe, a no-op on a
    * committed `appendId`, its marker recording the key count observed
    * on the keys write.
    */
  def append(keys: DataFrame, keyCol: String, path: String,
             appendId: Option[String] = None): Unit = {
    val data = keys.select(col(keyCol).cast("long").as("h")).distinct()
    IndexLifecycle.append(keys.sparkSession, path, Keys, "UnitStore.append",
      appendId)(_.append("keys", data))
  }

  /** Committed key count: the build's `n_keys` plus the key count each
    * commit marker records — a one-row meta read and one listing of
    * `_commits/`, exact after any crash (see the object doc for the one
    * way it can exceed [[keyCount]]).
    */
  def committedKeys(spark: SparkSession, path: String): Long =
    IndexLifecycle.open(spark, path, Keys).tally

  /** Exact committed DISTINCT key count — one narrow scan of the store;
    * the check on [[committedKeys]], not the per-run bookkeeping read.
    */
  def keyCount(spark: SparkSession, path: String): Long =
    read(spark, path).distinct().count()

  /** Fold committed appends to base rows, dedup back to a SET, drop
    * crashed-attempt garbage and tombstone the markers — the shared
    * [[IndexLifecycle.compact]] sequence.
    *
    * `keepAppendIds` names committed appends to carry through UNFOLDED —
    * rows keep their attempt tag, markers keep their payload — so a
    * later read excluding one of those ids still hides its rows. The
    * streaming rewrite loops depend on this: they compact right after a
    * batch's appends, keeping the batch's OWN appendId, because the
    * batch is not yet committed in the stream's checkpoint — folding its
    * marker would disarm the replay's `excludeAppendIds` hook and the
    * replay would drop the batch against itself, overwriting correct
    * output (the documented crash-anywhere/replay-identical contract).
    */
  def compact(spark: SparkSession, path: String,
              keepAppendIds: Seq[String] = Nil): Unit =
    IndexLifecycle.compact(spark, path, Keys, "UnitStore.compact", keepAppendIds)
}
