package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Paragraph-level (unit-level) deduplication with keep-first semantics —
  * the CCNet / Dolma web-corpus boilerplate pass: split every document
  * into units (paragraphs, lines, or fixed word windows), drop every unit
  * occurrence except the globally FIRST one (min `(id, pos)` across the
  * corpus), and reassemble each document's surviving units in order.
  * Doc-level dedup (exact q44/q99, MinHash q47) keeps boilerplate that
  * repeats INSIDE otherwise-distinct pages (nav bars, cookie banners,
  * license blocks); this operator removes it while keeping one canonical
  * copy, which is how CCNet-style pipelines prepare Common Crawl text.
  * `SubstringDup` (q80) is the read-only census cousin; this one rewrites.
  *
  * Scale shape (100 TB): unit TEXT never crosses an exchange. The
  * exploded pass reduces each unit to `(id, pos, xxhash64(unit))` before
  * the one hash-keyed shuffle (24-byte rows); keep-first is a partial-agg
  * `min(struct(id, pos))` plus a colocated join back (the SubstringDup
  * pattern — no window over the hash, AQE cannot split a window
  * partition, and a ubiquitous boilerplate unit is exactly the skewed
  * key). The drop-list shuffle is DUP-proportional, and the final
  * rewrite joins docs against per-doc drop lists (AQE broadcasts the
  * dup-proportional side when small) and rebuilds the text with pure
  * codegen'd array functions — the corpus is scanned, never reshuffled.
  *
  * Unit identity is `xxhash64(unit)` — two distinct units merge only on
  * a 64-bit collision (p ≈ n²/2⁻⁶⁵; the q80/q99-precedent bound), which
  * at gate scale is ~1e-11, so the DuckDB oracle grouping raw unit
  * strings still matches byte-for-byte.
  */
object ParagraphDedup {

  /** Units = separator-delimited spans (paragraph mode; deployment
    * default `"\n"`-split web text). `sepRegex` is a Java regex.
    */
  def unitsBySeparator(text: Column, sepRegex: String): Column =
    split(coalesce(text, lit("")), sepRegex)

  /** Units = non-overlapping `n`-word windows (for text without
    * paragraph structure; the trailing window may be short). Words are
    * `wordSep`-delimited; units rejoin with the same separator. Runs on
    * the [[graft.functions.WordWindows]] codegen kernel — one boundary
    * scan + one substring per window; the composite
    * split→slice→array_join chain it replaces is interpreted per
    * element and was the operator's dominant constant (2.85 s/pass at
    * sf1). Kernel ≡ composite is spec-pinned.
    */
  def unitsByWordWindow(text: Column, n: Int, wordSep: String = " "): Column =
    graft.functions.WordWindows.windows(coalesce(text, lit("")), n, wordSep)

  /** `(__id, __pos, __h)` — one row per unit occurrence, unit text
    * reduced to its 64-bit key BEFORE the explode even (the generator
    * emits longs, not strings, and the non-nullable hash keeps the
    * downstream join from inserting an `isnotnull` filter that would
    * break exchange reuse between the agg and join-back branches —
    * without reuse the corpus explodes and shuffles TWICE).
    */
  private def unitKeys(df: DataFrame, idCol: String, textCol: String,
                       unitize: Column => Column): DataFrame =
    // the explicit isNotNull matches the predicate the rewrite join
    // infers for its drop side: without it the inference lands on the
    // JOIN-BACK branch only, the two branches' canonical plans diverge,
    // and the unit-keys exchange runs twice (measured 2.53 shuffle
    // records per unit vs 1.53 with reuse). Null-id docs pass through
    // the rewrite untouched either way (left join; ids are contractually
    // unique and orderable).
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(unitize(col(textCol))).as(Seq("__pos", "__u")))
      .select(col("__id"), col("__pos"), xxhash64(col("__u")).as("__h"))

  /** Rebuild each doc from its drop-list: `drops` is `(__id, __drop)`
    * with the sorted positions to remove (docs absent = keep all). The
    * rewrite is a narrow, codegen'd pass over the corpus — the text is
    * re-unitized in place, never shuffled; the drop side is
    * dup-proportional (AQE broadcasts it when small).
    */
  private def rewriteWithDrops(df: DataFrame, idCol: String, textCol: String,
                               unitize: Column => Column, joinSep: String,
                               drops: DataFrame): DataFrame = {
    // materialize the units array ONCE, in a projection ABOVE the join:
    // higher-order array functions are CodegenFallback (interpreted, no
    // subexpression elimination), so an inline `unitize` tree would
    // re-run the whole window build per ELEMENT inside the transform —
    // measured 12.6 s → 6.3 s at sf1 for the full-corpus rewrite when
    // first materialized (the rest was the interpreted window build
    // itself, now the WordWindows kernel). Above the join, not below:
    // when the drop side is too big to broadcast, the join shuffles the
    // doc side, and the exchange must carry the text ONCE — not text
    // plus a same-sized window array. CollapseProject keeps the
    // projection separate (a non-cheap expression referenced three
    // times is never inlined), so the kernel still runs once per row.
    val us = col("__us")
    val dropSafe = coalesce(col("__drop"), expr("CAST(array() AS array<int>)"))
    // set-DIFFERENCE, not a per-element membership filter: array_except
    // hashes the drop list once and streams the positions through it —
    // O(units + drops) — where the previous
    // `filter(seq, i => !array_contains(drop, i))` probe was
    // O(units × drops), quadratic in a doc's own length exactly on the
    // ~all-boilerplate docs a dedup pass exists for. Position order and
    // distinctness are preserved (the sequence is strictly increasing).
    // The size(us) > 0 guard covers CUSTOM unitizers that return an
    // empty array: sequence(0, -1) is a DESCENDING [0, -1], and
    // element_at(us, 0) would throw at runtime (built-in unitizers
    // always emit ≥1 unit — split/windows of "" is [""]).
    val keptIdx = array_except(
      when(size(us) > 0, sequence(lit(0), size(us) - lit(1)))
        .otherwise(expr("CAST(array() AS array<int>)")),
      dropSafe)
    df.join(drops, df(idCol) === drops("__id"), "left")
      .withColumn("__us", unitize(col(textCol)))
      .select(col(idCol),
        size(us).cast("long").as("n_units"),
        coalesce(size(col("__drop")), lit(0)).cast("long").as("n_dropped"),
        array_join(transform(keptIdx, i => element_at(us, i + lit(1))), joinSep)
          .as("clean_text"))
  }

  /** Keep-first unit dedup + rewrite. Returns one row per input doc:
    * `(idCol, n_units, n_dropped, clean_text)` where `clean_text` is the
    * surviving units joined by `joinSep` in original order (`""` when
    * every unit was seen earlier elsewhere). `unitize` maps the text
    * column to an array of unit strings ([[unitsBySeparator]] /
    * [[unitsByWordWindow]] or any custom Column function); `ids` must be
    * unique and orderable — "first" is the `(id, pos)` minimum.
    */
  def dedup(df: DataFrame, idCol: String, textCol: String,
            unitize: Column => Column, joinSep: String): DataFrame = {
    // One hash-keyed exchange, reused by the agg and the join-back
    // (identical subplans → ReusedExchange); unit text is already gone.
    val keyed = unitKeys(df, idCol, textCol, unitize).repartition(col("__h"))
    val firsts = keyed.groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    val drops = keyed
      .join(firsts.hint("SHUFFLE_HASH"), Seq("__h"))
      .filter(struct(col("__id"), col("__pos")) =!= col("__first"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__drop"))
    rewriteWithDrops(df, idCol, textCol, unitize, joinSep, drops)
  }

  /** Paragraph-mode convenience: newline-split units, newline rejoin. */
  def paragraphs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    dedup(df, idCol, textCol, unitsBySeparator(_, "\\n"), "\n")

  // ---- the seen-unit store: keep-first across a GROWING corpus --------

  /** Build a persisted SEEN-UNIT STORE ([[UnitStore]]) from a corpus:
    * the distinct `xxhash64(unit)` set of every document. With it,
    * [[dedupAgainstStore]] prices "drop what the lake has already said"
    * at a membership join on 8-byte keys — the CCNet boilerplate pass as
    * a day-2 INGEST stage instead of a corpus-wide recompute. `buckets`
    * buckets the store on the key, so the store side of every later
    * membership join reads with NO exchange (the fingerprint-sidecar
    * layout answer).
    */
  def unitStoreBuild(df: DataFrame, idCol: String, textCol: String,
                     unitize: Column => Column, path: String,
                     buckets: Int = 0): Unit =
    UnitStore.build(unitKeys(df, idCol, textCol, unitize).select(col("__h")),
      "__h", path, buckets)

  /** The per-batch ACCEPT computation of the paragraph-dedup ingest
    * loop, one store scan wide: `cleaned` is the batch rewritten with
    * keep-first against the store AND within itself (a unit occurrence
    * survives iff its key is not in the store and it is the batch's
    * `(id, pos)`-first occurrence); `novelKeys` is the distinct key set
    * the batch introduces (`h` column — exactly what
    * [[UnitStore.append]] expects). The intermediate occurrence table is
    * batch-proportional and held as a batch snapshot
    * ([[org.apache.spark.sql.GraftColumnShim.snapshot]]) so the two
    * outputs don't compute it twice. A `persist()` would not do: the
    * table reads the store's `keys` dir, and a write there — the store
    * append that consumes `novelKeys` — makes Spark drop every cached
    * plan over that dir, so each later read recomputed it. Call
    * `release()` after BOTH outputs have been consumed.
    * `excludeAppendIds` passes through to [[UnitStore.read]] — a
    * replayed micro-batch excluding its own appendId recomputes
    * identical outputs even after its append committed.
    */
  private[graft] final case class StoreAccept(
      cleaned: DataFrame, novelKeys: DataFrame, release: () => Unit)

  private[graft] def storeAccept(df: DataFrame, idCol: String,
                                 textCol: String, unitize: Column => Column,
                                 joinSep: String, path: String,
                                 excludeAppendIds: Seq[String] = Nil,
                                 cache: Boolean = true): StoreAccept = {
    val spark = df.sparkSession
    val store = UnitStore.read(spark, path, excludeAppendIds)
      .select(col("h").as("__h")).withColumn("__seen", lit(true))
    // only the batch is exchanged: the store side reads bucketed
    val keyed = unitKeys(df, idCol, textCol, unitize).repartition(col("__h"))
    val firsts = keyed.groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    // batch (hash-partitioned) ⨝ firsts (colocated) ⨝ store (bucketed
    // scan: no store-side exchange; the store is a SET, so the left join
    // cannot multiply rows)
    val marked0 = keyed
      .join(firsts.hint("SHUFFLE_HASH"), Seq("__h"))
      .join(store, Seq("__h"), "left")
    val (marked, release) =
      if (cache) org.apache.spark.sql.GraftColumnShim.snapshot(marked0)
      else (marked0, () => ())
    // array_distinct: a store that violates the SET contract (an append
    // replayed without its marker, keys re-appended by a buggy caller)
    // multiplies occurrence rows through the left join — membership
    // stays right either way, and the distinct keeps the drop COUNTS
    // right too (pure expression, no extra shuffle); compact restores
    // the set property itself
    val drops = marked
      .filter(col("__seen") ||
        struct(col("__id"), col("__pos")) =!= col("__first"))
      .groupBy(col("__id"))
      .agg(array_distinct(sort_array(collect_list(col("__pos")))).as("__drop"))
    val novel = marked
      .filter(col("__seen").isNull &&
        struct(col("__id"), col("__pos")) === col("__first"))
      .select(col("__h").as("h"))
    StoreAccept(
      rewriteWithDrops(df, idCol, textCol, unitize, joinSep, drops),
      novel, release)
  }

  /** Keep-first rewrite of a batch AGAINST a seen-unit store
    * ([[unitStoreBuild]]) — read-only (the store is not extended; the
    * ingest loop [[graft.streaming.DocsStream.runParagraphDedupLoopAsStream]]
    * owns that). Output schema matches [[dedup]]. Equivalence contract:
    * with a store built from `lake` and batch ids sorting after lake
    * ids, this equals `dedup(lake ∪ batch)` restricted to the batch.
    */
  def dedupAgainstStore(df: DataFrame, idCol: String, textCol: String,
                        unitize: Column => Column, joinSep: String,
                        path: String): DataFrame = {
    storeAccept(df, idCol, textCol, unitize, joinSep, path,
      cache = false).cleaned // one output consumed once — nothing to share
  }
}
