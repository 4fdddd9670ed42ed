package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class ParagraphDedupSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  // Paragraph corpus: "boilerplate" repeats across docs 0/1/2 and twice
  // INSIDE doc 3; doc 4 is entirely units seen earlier (drops to empty);
  // doc 5 is unique.
  lazy val paraDocs = Seq(
    (0L, "alpha first\nboilerplate banner\nunique tail zero"),
    (1L, "boilerplate banner\nunique body one"),
    (2L, "unique body two\nboilerplate banner"),
    (3L, "repeat me\nrepeat me\nunique body three"),
    (4L, "boilerplate banner\nrepeat me"),
    (5L, "entirely unique document five"))
    .toDF("doc_id", "text")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))
    }.toMap

  test("paragraphs: keep-first across and within docs, rewrite preserves order") {
    val got = rowsOf(ParagraphDedup.paragraphs(paraDocs, "doc_id", "text"))
    assert(got(0L) == ((3L, 0L, "alpha first\nboilerplate banner\nunique tail zero")))
    assert(got(1L) == ((2L, 1L, "unique body one")))
    assert(got(2L) == ((2L, 1L, "unique body two")))
    // within-doc duplicate: first occurrence kept, second dropped
    assert(got(3L) == ((3L, 1L, "repeat me\nunique body three")))
    // every unit seen earlier -> empty rewrite, not null
    assert(got(4L) == ((2L, 2L, "")))
    assert(got(5L) == ((1L, 0L, "entirely unique document five")))
  }

  test("word-window units match a brute-force reference on structureless text") {
    val docs = Seq(
      (10L, "a b c d e f g h"),   // windows of 3: "a b c","d e f","g h"
      (11L, "d e f x y z"),        // "d e f" dup, "x y z" novel
      (12L, "g h"),                // exact window dup of doc 10's tail
      (13L, "a b c d e f g h"))    // full duplicate of doc 10
      .toDF("doc_id", "text")
    val got = rowsOf(ParagraphDedup.dedup(docs, "doc_id", "text",
      ParagraphDedup.unitsByWordWindow(_, 3), " "))
    assert(got(10L) == ((3L, 0L, "a b c d e f g h")))
    assert(got(11L) == ((2L, 1L, "x y z")))
    assert(got(12L) == ((1L, 1L, "")))
    assert(got(13L) == ((3L, 3L, "")))
  }

  test("unitsByWordWindow: trailing short window and single-window text") {
    val u = Seq(("a b c d e", 0)).toDF("t", "x")
      .select(ParagraphDedup.unitsByWordWindow(col("t"), 2).as("u"))
      .collect().head.getSeq[String](0)
    assert(u == Seq("a b", "c d", "e"))
    val one = Seq(("hi", 0)).toDF("t", "x")
      .select(ParagraphDedup.unitsByWordWindow(col("t"), 16).as("u"))
      .collect().head.getSeq[String](0)
    assert(one == Seq("hi"))
  }

  test("word-window kernel ≡ composite split→slice→array_join reference — UTF-8, repeated/leading/trailing separators, empty") {
    val rows = Seq(
      "a b c d e f g h", "single", "",
      "a  double  spaces inside", " leading and trailing ", "   ",
      "héllo wörld ünïcode tëxt with àccents répeated héllo wörld",
      "日本語 テキスト mixed ascii 内容 混在 文書",
      "tab\tseparated stays one word").toDF("t")
    for (n <- Seq(1, 2, 3, 16)) {
      val got = rows.select(
        ParagraphDedup.unitsByWordWindow(col("t"), n).as("fast"),
        KernelReferences.unitsByWordWindow(col("t"), n).as("ref"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
    // multi-byte separator
    val m = rows.select(
      ParagraphDedup.unitsByWordWindow(col("t"), 2, "ö").as("fast"),
      KernelReferences.unitsByWordWindow(col("t"), 2, "ö").as("ref"))
      .collect()
    m.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("unit text never reaches an exchange; doc text is never repartitioned") {
    // The 100 TB contract: the only wide shuffles carry (id, pos, hash) /
    // drop-lists — no string column named for the unit or the doc text
    // appears under any Exchange in the physical plan.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = ParagraphDedup.dedup(paraDocs, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), "\n")
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name).toSet
      assert(!cols.contains("__u") && !cols.contains("__us") &&
        !cols.contains("text"),
        s"unit/doc text crossed an exchange: $cols")
    }
    // the two consumers of the unit-keys exchange (keep-first agg,
    // join-back) must canonicalize EQUAL so AQE reuses one shuffle —
    // the rewrite join's inferred isnotnull(id) once landed on one
    // branch only and the corpus shuffled twice (SCALE.md round 17)
    val keyed = exchanges.filter(_.child.output.map(_.name).contains("__h"))
    assert(keyed.size == 2, plan.toString.take(1200))
    assert(keyed(0).canonicalized == keyed(1).canonicalized,
      "unit-keys exchanges no longer reuse:\n" +
        keyed(0).child.canonicalized.toString.take(600) + "\nvs\n" +
        keyed(1).child.canonicalized.toString.take(600))
  }

  // ---- seen-unit store (UnitStore) lifecycle + store-dedup ------------

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def storeKeys(path: String): Set[Long] =
    UnitStore.read(spark, path).collect().map(_.getLong(0)).toSet

  /** Each marker of the store at `path`, by appendId: whether a compact
    * folded it to a tombstone (no attempt id).
    */
  private def tombstones(path: String): Map[String, Boolean] = {
    val (fs, root) = IndexLifecycle.fsFor(spark, path)
    IndexLifecycle.markers(fs, root).map { case (id, m) => id -> m.attempt.isEmpty }.toMap
  }

  test("unit store lifecycle: build, bucketed read, idempotent append, crash-invisible, exact committed count") {
    val store = tmpDir("ustore")
    val lake = paraDocs.filter($"doc_id" <= 2)
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store, buckets = 2)
    val expect = lake
      .select(explode(split(col("text"), "\\n")).as("u"))
      .select(xxhash64(col("u"))).distinct().collect().map(_.getLong(0)).toSet
    assert(storeKeys(store) == expect)
    assert(UnitStore.committedKeys(spark, store) == expect.size.toLong)
    assert(UnitStore.keyCount(spark, store) == expect.size.toLong)
    // append two novel keys; a replay of the same appendId (with
    // different data — a buggy retry) must be a no-op
    UnitStore.append(Seq(123L, 456L).toDF("h"), "h", store, Some("d1"))
    assert(storeKeys(store) == expect + 123L + 456L)
    assert(UnitStore.committedKeys(spark, store) == expect.size + 2L)
    UnitStore.append(Seq(789L).toDF("h"), "h", store, Some("d1"))
    assert(!storeKeys(store).contains(789L), "replayed appendId re-appended")
    assert(UnitStore.committedKeys(spark, store) == expect.size + 2L)
    // crash window: data landed, marker gone → invisible, and the
    // marker took its count with it
    UnitStore.append(Seq(999L).toDF("h"), "h", store, Some("d2"))
    assert(new java.io.File(s"$store/_commits/d2").delete())
    assert(!storeKeys(store).contains(999L), "uncommitted append leaked")
    assert(UnitStore.keyCount(spark, store) == expect.size + 2L)
    assert(UnitStore.committedKeys(spark, store) == expect.size + 2L,
      "the removed marker's keys are still counted")
    UnitStore.compact(spark, store)
    assert(storeKeys(store) == expect + 123L + 456L)
    assert(UnitStore.committedKeys(spark, store) == expect.size + 2L)
    // folded markers stay idempotency tombstones
    UnitStore.append(Seq(111L).toDF("h"), "h", store, Some("d1"))
    assert(!storeKeys(store).contains(111L),
      "compact lost d1's idempotency record")
  }

  test("compact keepAppendIds: the named append survives unfolded — exclusion still hides it, its marker keeps its payload, a later plain compact folds it") {
    val store = tmpDir("ustore_keep")
    val lake = paraDocs.filter($"doc_id" <= 2)
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store, buckets = 2)
    val base = storeKeys(store)
    UnitStore.append(Seq(101L).toDF("h"), "h", store, Some("old-batch"))
    UnitStore.append(Seq(202L).toDF("h"), "h", store, Some("live-batch"))
    // the rewrite loops' deferred compact: fold everything EXCEPT the
    // batch whose checkpoint commit is not yet durable
    UnitStore.compact(spark, store, keepAppendIds = Seq("live-batch"))
    // all keys visible; the kept append's keys STILL hide under its
    // exclusion (the replay-determinism hook the keep exists for),
    // while the folded one's no longer can
    assert(storeKeys(store) == base + 101L + 202L)
    assert(!UnitStore.read(spark, store, excludeAppendIds = Seq("live-batch"))
      .collect().map(_.getLong(0)).contains(202L),
      "compact folded the kept append — replay exclusion disarmed")
    assert(UnitStore.read(spark, store, excludeAppendIds = Seq("old-batch"))
      .collect().map(_.getLong(0)).contains(101L),
      "folded append unexpectedly still excludable (should be base now)")
    // marker states: kept one keeps its attempt id, folded one is a
    // tombstone
    assert(tombstones(store) == Map("live-batch" -> false, "old-batch" -> true),
      tombstones(store).toString)
    // both still no-op on replay
    UnitStore.append(Seq(303L).toDF("h"), "h", store, Some("live-batch"))
    UnitStore.append(Seq(404L).toDF("h"), "h", store, Some("old-batch"))
    assert(storeKeys(store) == base + 101L + 202L)
    assert(UnitStore.committedKeys(spark, store) == base.size + 2L)
    // the next plain compact folds the kept append to base
    UnitStore.compact(spark, store)
    assert(storeKeys(store) == base + 101L + 202L)
    assert(tombstones(store) == Map("live-batch" -> true, "old-batch" -> true),
      tombstones(store).toString)
  }

  test("rewrite handles a custom unitizer that returns an EMPTY array (no sequence(0,-1) crash)") {
    // the built-in unitizers never emit empty arrays, but dedup()
    // accepts any Column function — an empty-when-blank unitizer used
    // to build sequence(0, -1) = [0, -1] and crash element_at at runtime
    val docs = Seq((0L, "alpha\nbeta"), (1L, ""), (2L, "alpha\ngamma"))
      .toDF("doc_id", "text")
    val unitize: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => when(length(t) === 0, expr("CAST(array() AS array<string>)"))
        .otherwise(split(t, "\\n"))
    val got = rowsOf(ParagraphDedup.dedup(docs, "doc_id", "text", unitize, "\n"))
    assert(got(0L) == ((2L, 0L, "alpha\nbeta")))
    assert(got(1L) == ((0L, 0L, "")))
    assert(got(2L) == ((2L, 1L, "gamma")))
  }

  test("a build with a wrong column leaves an existing store fully readable") {
    val store = tmpDir("ustore_guard")
    val lake = paraDocs.filter($"doc_id" <= 2)
    ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store)
    UnitStore.append(Seq(123L).toDF("h"), "h", store, Some("d1"))
    val before = storeKeys(store)
    intercept[org.apache.spark.sql.AnalysisException] {
      ParagraphDedup.unitStoreBuild(lake, "doc_id", "no_such_col",
        ParagraphDedup.unitsBySeparator(_, "\\n"), store)
    }
    assert(storeKeys(store) == before,
      "failed rebuild destroyed the old store or its appends")
  }

  test("bucketed store: the membership join's store side reads bucketed and shuffles nothing (non-broadcast regime)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val store = tmpDir("ustore_plan")
    ParagraphDedup.unitStoreBuild(paraDocs, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store, buckets = 4)
    // pin the structural claim, not AQE's small-data shortcut: with
    // runtime broadcast conversion off, the seen-membership join must
    // read the store straight off its bucketed scan — the one
    // lake-proportional input of the day-2 rewrite must never shuffle
    // (and at 10⁹ keys could never broadcast)
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    restore.foreach { case (k, _) => spark.conf.set(k, "-1") }
    try {
      val batch = Seq((10L, "boilerplate banner\nnovel paragraph ten"))
        .toDF("doc_id", "text")
      def build() = ParagraphDedup.dedupAgainstStore(batch, "doc_id", "text",
        ParagraphDedup.unitsBySeparator(_, "\\n"), "\n", store)
      assert(rowsOf(build())(10L) == ((2L, 1L, "novel paragraph ten")))
      // inspect a FRESH query's initial plan: after execution AQE's
      // executedPlan shows only the final result stage, with the
      // membership join hidden inside materialized upstream stages
      val plan = build().queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // the membership join is the __h-keyed join whose store side is
      // the bare scan subtree (no Generate — that's the batch side; the
      // doc-level rewrite join also CONTAINS the store string, via its
      // whole drops subtree)
      val storeSides = plan.collect {
        case j: SortMergeJoinExec => Seq(j.left, j.right)
        case j: ShuffledHashJoinExec => Seq(j.left, j.right)
      }.flatten.filter(s => s.toString.contains("graft_lsh_keys_") &&
        !s.toString.contains("Generate"))
      assert(storeSides.nonEmpty, plan.toString.take(1500))
      storeSides.foreach { s =>
        assert(s.toString.contains("Bucketed: true"),
          "store scan lost the bucket spec:\n" + s.toString.take(800))
        val exchanges = s.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.isEmpty,
          "store shuffled despite bucketed layout:\n" + s.toString.take(1500))
      }
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedupAgainstStore == dedup(lake ∪ batch) restricted to the batch") {
    // lake ids < batch ids, so global keep-first in the union gives the
    // lake priority — exactly the store's semantics
    val batch = Seq(
      (10L, "boilerplate banner\nnovel paragraph ten"),   // store drop + keep
      (11L, "novel paragraph ten\nnovel paragraph eleven"), // within-batch drop
      (12L, "repeat me\nentirely unique document five"))  // two store drops
      .toDF("doc_id", "text")
    val store = tmpDir("ustore_equiv")
    ParagraphDedup.unitStoreBuild(paraDocs, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), store, buckets = 2)
    val got = rowsOf(ParagraphDedup.dedupAgainstStore(batch, "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), "\n", store))
    val want = rowsOf(ParagraphDedup.dedup(
      paraDocs.unionByName(batch), "doc_id", "text",
      ParagraphDedup.unitsBySeparator(_, "\\n"), "\n")
      .filter(col("doc_id") >= 10))
    assert(got == want)
    assert(got(10L)._3 == "novel paragraph ten")
    assert(got(11L)._3 == "novel paragraph eleven")
    assert(got(12L) == ((2L, 2L, "")))
  }
}
