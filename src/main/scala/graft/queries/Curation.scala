package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Decontaminate, Sampling}
import graft.streaming.Streams

/** Corpus-curation operators as correctness-gate entries: PII
  * detection/redaction, repetition-based quality signals (Gopher-style),
  * benchmark decontamination, and deterministic sampling.
  *
  * The synthetic corpus contains no PII, so q69 plants it
  * deterministically in-query (both engines construct the identical
  * augmented text) — the gate then verifies real detection/redaction
  * work, not a trivially-zero count. The decontamination gates use word
  * 3-grams: the synthetic vocabulary is ~30 words, so 3-grams have the
  * same discrimination role 8–13-grams have on natural text (n is a
  * parameter of the operator either way).
  */
object Curation {

  /** Deterministic synthetic-PII augmentation — the corpus has no PII,
    * so gates plant it identically in the engine and the oracle (the
    * same CASE/concat in SQL); shared by q69 and the qs03 stream.
    */
  def plantPii(id: org.apache.spark.sql.Column,
               text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(text,
      when(id % 3 === 0, concat(lit(" reach me at user"),
        id.cast("string"), lit("@example.com or admin@test.org today")))
      .when(id % 3 === 1, concat(lit(" call +1 555-0"),
        lpad((id % 1000).cast("string"), 3, "0"), lit(" now")))
      .otherwise(concat(lit(" server 10."), (id % 256).cast("string"),
        lit(".0.1 and 192.168.1."), (id % 200).cast("string"), lit(" up"))))

  /** The qs03/qs06 curated stream: plant → redact → deterministic
    * md5-prefix sample, as a Structured Streaming query over the parquet
    * files in `inputDir`.
    */
  private def curatedStream(spark: SparkSession, inputDir: String): DataFrame =
    Sampling.hashSample(
      Streams.fileSource(spark, inputDir)
        .withColumn("t", plantPii(col("doc_id"), col("text")))
        .withColumn("redacted", TextFunctions.piiRedact(col("t"))),
      "doc_id", numerator = 20)

  /** The curated stream landing as TRAINING SHARDS: the sink is
    * `foreachBatch` appending language-partitioned parquet — the
    * streaming counterpart of [[graft.operators.ShardWriter]] (append
    * per micro-batch instead of overwrite; each batch's files are
    * internally sorted, directories accumulate across batches). The qs06
    * gate reads the shards BACK and holds them to the same SQL oracle as
    * the in-stream summary, so the file-commit path itself is
    * correctness-gated.
    */
  def runCurationToShards(spark: SparkSession, inputDir: String,
                          outDir: String): Unit =
    Streams.drain(curatedStream(spark, inputDir)
      .select(col("doc_id"), col("lang"), col("redacted"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.repartition(col("lang"))
          .sortWithinPartitions(col("lang"), col("doc_id"))
          .write.mode("append").partitionBy("lang").parquet(outDir)
      }
      .option("checkpointLocation", graft.core.TempDirs.deleteOnExit(
        java.nio.file.Files.createTempDirectory("qs06ckpt").toString)))

  /** Per-language counts over the curated stream's redacted text, as a
    * real Structured Streaming query (parquet file source → memory sink,
    * `processAllAvailable`).
    */
  def runCurationAsStream(spark: SparkSession, inputDir: String,
                          queryName: String): DataFrame =
    Streams.drainToMemory(curatedStream(spark, inputDir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("redacted"))).cast("long").as("sum_chars")),
      queryName, "complete")

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q69_pii_redact",
      (s, d) => {
        val id = col("doc_id")
        load(s, d, "documents")
          .select(id, plantPii(id, col("text")).as("t"))
          .select(id, TextFunctions.piiCounts(col("t")).as("pii"),
            TextFunctions.piiRedact(col("t")).as("redacted"))
          .select(id,
            col("pii.n_emails").as("n_emails"),
            col("pii.n_phones").as("n_phones"),
            col("pii.n_ips").as("n_ips"),
            col("redacted"))
          .orderBy(id)
          .limit(500)
      },
      // the oracle re-detects with the same RE2-safe patterns over the
      // identically-constructed augmented text
      Some("""WITH aug AS (
             |  SELECT doc_id, text || CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com or admin@test.org today'
             |    WHEN 1 THEN ' call +1 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' now'
             |    ELSE ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 and 192.168.1.' || CAST(doc_id % 200 AS VARCHAR) || ' up'
             |  END AS t FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             |  CAST(len(regexp_extract_all(t, '\+[0-9]{1,3} [0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
             |  CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
             |  regexp_replace(regexp_replace(regexp_replace(t,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+[0-9]{1,3} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
             |FROM aug ORDER BY doc_id LIMIT 500""".stripMargin)),

    QueryDef("q70_repetition_signals",
      (s, d) => {
        // Gopher-style repetition quality: most-frequent-word fraction
        // (explode + two partial-aggregated shuffles on doc_id) and
        // duplicate-2-gram fraction (pure array expressions, no shuffle).
        val docs = load(s, d, "documents")
        val tok = docs.select(col("doc_id"),
          explode(split(trim(col("text")), " ")).as("tw"))
        val top = tok.groupBy(col("doc_id"), col("tw"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("int").as("n_words"),
            max(col("c")).cast("int").as("top_c"))
        val w = split(trim(col("text")), " ")
        val grams = when(size(w) >= 2,
          transform(sequence(lit(1), size(w) - 1),
            i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
          .otherwise(expr("CAST(array() AS array<string>)"))
        val dup = docs.select(col("doc_id"),
          when(size(grams) === 0, lit(0.0))
            .otherwise(round(lit(1.0) -
              size(array_distinct(grams)).cast("double") / size(grams), 4))
            .as("dup_2gram_frac"))
        top.join(dup, "doc_id")
          .select(col("doc_id"), col("n_words"),
            round(col("top_c").cast("double") / col("n_words"), 4)
              .as("top_word_frac"),
            col("dup_2gram_frac"))
          .orderBy(col("doc_id"))
          .limit(500)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
             |tok AS (SELECT doc_id, unnest(ws) AS tw FROM w),
             |wc AS (SELECT doc_id, tw, count(*) AS c FROM tok GROUP BY 1, 2),
             |top AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_words,
             |        CAST(max(c) AS INT) AS top_c FROM wc GROUP BY 1),
             |g AS (SELECT doc_id, [array_to_string(ws[i:i+1], ' ')
             |      for i in range(1, len(ws))] AS gs FROM w)
             |SELECT t.doc_id, t.n_words,
             |  round(CAST(t.top_c AS DOUBLE) / t.n_words, 4) AS top_word_frac,
             |  CASE WHEN len(g.gs) = 0 THEN 0.0
             |    ELSE round(1.0 - CAST(len(list_distinct(g.gs)) AS DOUBLE) / len(g.gs), 4)
             |  END AS dup_2gram_frac
             |FROM top t JOIN g ON t.doc_id = g.doc_id
             |ORDER BY t.doc_id LIMIT 500""".stripMargin)),

    QueryDef("q71_decontaminate_hits",
      (s, d) => {
        val docs = load(s, d, "documents")
        Decontaminate.overlapHits(
            docs.filter(col("doc_id") % 31 =!= 0),
            docs.filter(col("doc_id") % 31 === 0),
            "text", "doc_id", n = 3)
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
             |ng AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+2], ' ')
             |       for i in range(1, greatest(len(ws)-2, 0)+1)]) AS gs FROM w),
             |bench AS (SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % 31 = 0),
             |corp AS (SELECT doc_id, unnest(gs) AS g FROM ng WHERE doc_id % 31 <> 0)
             |SELECT c.doc_id, count(DISTINCT c.g) AS n_hits
             |FROM corp c JOIN bench b ON c.g = b.g
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q72_decontaminate_keep",
      (s, d) => {
        // The removal side: corpus docs surviving decontamination at
        // minHits=2 (tolerate one incidental shared n-gram; the oracle
        // recomputes the same rule independently).
        val docs = load(s, d, "documents")
        Decontaminate.decontaminate(
            docs.filter(col("doc_id") % 31 =!= 0),
            docs.filter(col("doc_id") % 31 === 0),
            "text", "doc_id", n = 3, minHits = 2)
          .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
      },
      Some("""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
             |ng AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+2], ' ')
             |       for i in range(1, greatest(len(ws)-2, 0)+1)]) AS gs FROM w),
             |bench AS (SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % 31 = 0),
             |corp AS (SELECT doc_id, unnest(gs) AS g FROM ng WHERE doc_id % 31 <> 0),
             |flagged AS (
             |  SELECT c.doc_id FROM corp c JOIN bench b ON c.g = b.g
             |  GROUP BY 1 HAVING count(DISTINCT c.g) >= 2)
             |SELECT count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |WHERE doc_id % 31 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin)),

    QueryDef("q73_stratified_sample",
      (s, d) => Sampling.stratifiedFixed(
          load(s, d, "documents"), "lang", "doc_id", n = 20)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id")),
      Some("""SELECT lang, doc_id FROM (
             |  SELECT lang, doc_id, row_number() OVER (
             |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents) WHERE rn <= 20
             |ORDER BY lang, doc_id""".stripMargin)),

    QueryDef("q76_sequence_pack",
      (s, d) => {
        // Shard-parallel sequence packing: per-language fixed-budget
        // bins in doc_id order (the concat-then-chunk layout LLM
        // pretraining uses); the oracle recomputes the same exclusive
        // prefix-sum assignment independently.
        val docs = load(s, d, "documents")
          .withColumn("tokens", size(split(col("text"), " ")))
        graft.operators.Packing.binStats(docs, "lang", "doc_id", "tokens",
            budget = 2000L)
          .withColumnRenamed("sum_weight", "sum_tokens")
          .orderBy(col("lang"), col("bin"))
      },
      Some("""WITH t AS (SELECT lang, doc_id,
             |  CAST(len(string_split(text, ' ')) AS INT) AS tokens FROM documents),
             |b AS (SELECT lang, doc_id, tokens,
             |  CAST(floor(coalesce(sum(tokens) OVER (
             |    PARTITION BY lang ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
             |    AS BIGINT) AS bin
             |  FROM t)
             |SELECT lang, bin, count(*) AS n_docs,
             |  CAST(sum(tokens) AS BIGINT) AS sum_tokens
             |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin)),

    QueryDef("q74_hash_sample",
      (s, d) => Sampling.hashSample(load(s, d, "documents"), "doc_id", 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang")),
      Some("""SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14'
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q79_mix_upsample",
      (s, d) => {
        // Corpus mixing (graft.operators.Mixing): per-source epoch
        // weights — src0 seen 2.5× (integer copies + md5-Bernoulli
        // fractional copy), src1 downsampled to 25%, src2 dropped,
        // everything else 1×. The oracle replays the identical
        // deterministic coin and replication in SQL.
        val mixed = graft.operators.Mixing.upsample(
          load(s, d, "documents"), "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0))
        mixed.groupBy(col("source"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy(col("source"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, source, n_chars,
             |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
             |                WHEN 'src2' THEN 0.0 ELSE 1.0 END AS wt
             |  FROM documents),
             |c AS (
             |  SELECT source, n_chars, CAST(floor(wt) AS BIGINT) +
             |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
             |      printf('%04x', CAST(floor((wt - floor(wt)) * 65536) AS BIGINT))
             |    THEN 1 ELSE 0 END AS n_copies
             |  FROM w),
             |r AS (
             |  SELECT source, n_chars,
             |    unnest(generate_series(0, n_copies - 1)) AS replica
             |  FROM c WHERE n_copies > 0)
             |SELECT source, count(*) AS n_rows,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef("q84_salted_join",
      (s, d) => {
        // Explicit salting (graft.operators.Skew): lineitem⋈supplier on
        // suppkey with the big side spread over 8 salt sub-partitions.
        // The oracle is the PLAIN unsalted join — salting must be
        // result-invariant by construction.
        val li = load(s, d, "lineitem")
          .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
        val sup = load(s, d, "supplier")
          .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        graft.operators.Skew.saltedJoin(li, sup, "suppkey", salt = 8)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).cast("double").as("sum_qty"))
          .orderBy(col("s_nationkey"))
      },
      Some("""SELECT s_nationkey, count(*) AS n_items,
             |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    QueryDef("q85_profile",
      (s, d) => graft.operators.Profile
        .profile(load(s, d, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .withColumnRenamed("column", "col_name")
        .orderBy(col("col_name")),
      Some(Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    QueryDef("q86_full_curation",
      (s, d) => {
        // FLAGSHIP COMPOSITION: the entire curation front door — exact
        // dedup → decontaminate → quality floor → deterministic sample
        // → mix → pack — as ONE call (graft.operators.Curate), held to
        // ONE SQL statement that recomputes the whole chain. Every
        // stage is individually proven (q44/q71/q41/q74/q79/q76); this
        // gate proves the composition.
        val docs = load(s, d, "documents")
        graft.operators.Curate.curate(
            docs.filter(col("doc_id") % 31 =!= 0),
            docs.filter(col("doc_id") % 31 === 0),
            "doc_id", "text", "lang", "source",
            minWords = 20, minUniqRatio = 0.25, sampleNumerator = 128,
            weights = Map("src0" -> 2.0, "src1" -> 0.5), packBudget = 2000L)
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tokens")).cast("long").as("sum_tokens"))
          .orderBy(col("lang"), col("bin"))
      },
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 31 <> 0),
             |dedup AS (SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |    FROM corpus) WHERE rn = 1),
             |ngr AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+2], ' ')
             |          for i in range(1, greatest(len(ws)-2, 0)+1)]) AS gs
             |        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM dedup)),
             |bench AS (SELECT DISTINCT unnest(gs) AS g FROM (
             |    SELECT list_distinct([array_to_string(ws[i:i+2], ' ')
             |      for i in range(1, greatest(len(ws)-2, 0)+1)]) AS gs
             |    FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |          FROM documents WHERE doc_id % 31 = 0))),
             |hits AS (SELECT c.doc_id, count(*) AS n_hits
             |         FROM (SELECT doc_id, unnest(gs) AS g FROM ngr) c
             |         JOIN bench b ON c.g = b.g GROUP BY 1),
             |decon AS (SELECT d.* FROM dedup d LEFT JOIN hits h ON d.doc_id = h.doc_id
             |          WHERE coalesce(h.n_hits, 0) < 2),
             |q AS (SELECT *, CAST(len(string_split(text, ' ')) AS INT) AS words,
             |        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS uniq
             |      FROM decon),
             |qf AS (SELECT * FROM q WHERE words >= 20 AND uniq / words >= 0.25),
             |samp AS (SELECT * FROM qf
             |         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'),
             |wt AS (SELECT *, CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 0.5
             |         ELSE 1.0 END AS wgt FROM samp),
             |cp AS (SELECT *, CAST(floor(wgt) AS BIGINT) +
             |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
             |           printf('%04x', CAST(floor((wgt - floor(wgt)) * 65536) AS BIGINT))
             |         THEN 1 ELSE 0 END AS n_copies FROM wt),
             |mix AS (SELECT lang, doc_id, words,
             |          unnest(generate_series(0, n_copies - 1)) AS replica
             |        FROM cp WHERE n_copies > 0),
             |bins AS (SELECT lang, words, CAST(floor(coalesce(sum(words) OVER (
             |           PARTITION BY lang ORDER BY doc_id * 8 + replica
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
             |           AS BIGINT) AS bin
             |         FROM mix)
             |SELECT lang, bin, count(*) AS n_docs, CAST(sum(words) AS BIGINT) AS sum_tokens
             |FROM bins GROUP BY lang, bin ORDER BY lang, bin""".stripMargin)),

    QueryDef("qs05_stream_static_dedup",
      (s, d) => {
        // STREAM-STATIC anti-join dedup gate: the full documents table
        // streams in against a static "already ingested" reference
        // (doc_id < 250); rows whose normalized fingerprint exists in
        // the reference are dropped inside the stream. The oracle
        // recomputes the same anti join in batch SQL.
        val docs = load(s, d, "documents")
        val tmp = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory("qs05").toString)
        docs.coalesce(1).write.mode("append").parquet(tmp)
        graft.streaming.DocsStream.runStaticDedupAsStream(
            s, tmp, docs.filter(col("doc_id") < 250), "qs05_dedup_mem")
          .orderBy(col("lang"))
      },
      Some("""WITH fp AS (SELECT doc_id, lang, n_chars,
             |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS f FROM documents),
             |ref AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM fp WHERE f NOT IN (SELECT f FROM ref)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("qs07_stream_index_dedup_loop",
      (s, d) => {
        // THE daily-ingest loop as a stream: the lake (doc_id < 250) is
        // persisted as an LSH index (a fresh copy per invocation — the
        // loop MUTATES it via lshAppend); the batch half (>= 250)
        // streams in, each micro-batch deduped against the index and
        // its accepted docs appended back. The gate drains in a single
        // trigger so the accept set is order-independent and the oracle
        // stays relational: kept = batch docs with no verified cross
        // near-dup into the lake (q96/q97 pair semantics, same
        // 1-(1-j^8)^16 recall bound), and the index's doc count grows by
        // exactly the kept set. The multi-micro-batch loop property
        // (later batches deduped against EARLIER ACCEPTED docs) is
        // spec-pinned in StreamingSpec with maxFilesPerTrigger = 1.
        val docs = load(s, d, "documents")
        // per-invocation scratch (the loop MUTATES the index, so it
        // cannot be cached like q97's) — deferred-deleted at JVM exit
        // instead of leaking a dir per gate run / plan inspection / spec
        def tmp(prefix: String): String = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory(prefix).toString)
        val idx = tmp("qs07idx")
        graft.operators.Dedup.lshBuild(docs.filter(col("doc_id") < 250),
          "text", "doc_id", idx)
        val in = tmp("qs07in")
        docs.filter(col("doc_id") >= 250).coalesce(1)
          .write.mode("append").parquet(in)
        graft.streaming.DocsStream.runIndexDedupLoopAsStream(
          s, in, idx, "qs07_loop_mem",
          checkpointLocation = Some(tmp("qs07ckpt")))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents)),
             |dropped AS (
             |  SELECT DISTINCT n.doc_id FROM t n JOIN t r
             |    ON n.doc_id >= 250 AND r.doc_id < 250
             |   AND CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE) /
             |       len(list_distinct(list_concat(n.sh, r.sh))) >= 0.8)
             |SELECT
             |  (SELECT count(*) FROM documents WHERE doc_id >= 250) -
             |  (SELECT count(*) FROM dropped) AS n_kept,
             |  (SELECT count(*) FROM documents WHERE doc_id < 250) +
             |  (SELECT count(*) FROM documents WHERE doc_id >= 250) -
             |  (SELECT count(*) FROM dropped) AS n_index_docs""".stripMargin)),

    QueryDef("qs09_stream_fingerprint_ingest_loop",
      (s, d) => {
        // THE daily-ingest loop on the HASH-AT-INGEST layout: the batch
        // half streams in CARRYING its stored fingerprint
        // (fp = xxhash64(text), stamped at write), and each micro-batch
        // exact-dedups on the 8-byte column — within itself
        // (exactGroupsFingerprint, min-id keeper) and against the
        // index's fingerprint sidecar — BEFORE the LSH stage; accepted
        // docs and their fps append under one commit marker. The
        // fixture has no natural exact dups across the halves, so the
        // gate PLANTS them, mirrored verbatim in the oracle: clones of
        // three lake docs (ids +10000 — dropped by the sidecar stage)
        // and of three batch docs (ids +20000 — dropped by the
        // within-batch keeper stage). Near-dup semantics equal qs07's.
        val docs = load(s, d, "documents")
        def tmp(prefix: String): String = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory(prefix).toString)
        val lake = docs.filter(col("doc_id") < 250)
        val idx = tmp("qs09idx")
        graft.operators.Dedup.lshBuild(lake, "text", "doc_id", idx)
        graft.operators.Dedup.lshWriteFingerprints(lake, "text", idx)
        val batch = docs.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") < 3)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(250, 252))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .withColumn("fp", xxhash64(col("text"))) // the at-ingest stamp
        val in = tmp("qs09in")
        batch.coalesce(1).write.mode("append").parquet(in)
        graft.streaming.DocsStream.runFingerprintIngestLoopAsStream(
          s, in, idx, "qs09_loop_mem",
          checkpointLocation = Some(tmp("qs09ckpt")))
      },
      Some("""WITH lake AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
             |batch AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
             |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 3
             |  UNION ALL SELECT doc_id + 20000, text FROM documents
             |    WHERE doc_id BETWEEN 250 AND 252),
             |within AS (
             |  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY text) AS keeper
             |                 FROM batch) WHERE doc_id = keeper),
             |ex AS (SELECT * FROM within WHERE text NOT IN (SELECT text FROM lake)),
             |tl AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM lake)),
             |tb AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM ex)),
             |dropped AS (
             |  SELECT DISTINCT n.doc_id FROM tb n JOIN tl r
             |    ON CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE) /
             |       len(list_distinct(list_concat(n.sh, r.sh))) >= 0.8)
             |SELECT
             |  (SELECT count(*) FROM ex) - (SELECT count(*) FROM dropped) AS n_kept,
             |  (SELECT count(*) FROM documents WHERE doc_id < 250) +
             |  (SELECT count(*) FROM ex) -
             |  (SELECT count(*) FROM dropped) AS n_index_docs""".stripMargin)),

    QueryDef("qs10_stream_paragraph_dedup_loop",
      (s, d) => {
        // The CCNet boilerplate pass as a DAY-2 INGEST LOOP: a seen-unit
        // store is built from the lake half (16-word-window units — the
        // fixture's structureless-text mode, as in q87), the batch half
        // streams in, and each micro-batch is REWRITTEN keep-first
        // (units already in the store or earlier in the batch drop; the
        // cleaned docs land as per-batch parquet) while the batch's
        // novel unit keys append to the store under a batchId-keyed
        // commit marker. Planted rows exercise both drop stages
        // deterministically: clones of lake docs (+10000 — every unit
        // drops via the STORE) and clones of batch docs (+20000 — every
        // unit drops via the WITHIN-BATCH keeper, the original's
        // smaller id wins). Multi-batch/restart/retry properties are
        // spec-pinned in StreamingSpec; the gate drains one trigger so
        // the oracle stays relational.
        val docs = load(s, d, "documents")
        def tmp(prefix: String): String = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory(prefix).toString)
        val lake = docs.filter(col("doc_id") < 250)
        val store = tmp("qs10store")
        graft.operators.ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
          graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), store)
        val batch = docs.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") < 3)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(250, 252))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        val in = tmp("qs10in")
        batch.coalesce(1).write.mode("append").parquet(in)
        graft.streaming.DocsStream.runParagraphDedupLoopAsStream(
          s, in, store, tmp("qs10out"), "qs10_loop_mem",
          graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), " ",
          checkpointLocation = Some(tmp("qs10ckpt")))
      },
      Some("""WITH lakeu AS (
             |  SELECT DISTINCT array_to_string(w[(i*16+1):(i*16+16)], ' ') AS unit
             |  FROM (SELECT string_split(text, ' ') AS w FROM documents
             |        WHERE doc_id < 250),
             |       unnest(generate_series(0,
             |         CAST(ceil(len(w)/16.0) AS BIGINT) - 1)) AS t(i)),
             |batch AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
             |  UNION ALL SELECT doc_id + 10000, text FROM documents
             |    WHERE doc_id < 3
             |  UNION ALL SELECT doc_id + 20000, text FROM documents
             |    WHERE doc_id BETWEEN 250 AND 252),
             |bu AS (
             |  SELECT doc_id, i AS pos,
             |    array_to_string(w[(i*16+1):(i*16+16)], ' ') AS unit
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
             |       unnest(generate_series(0,
             |         CAST(ceil(len(w)/16.0) AS BIGINT) - 1)) AS t(i)),
             |marked AS (
             |  SELECT doc_id, pos, unit,
             |    (unit IN (SELECT unit FROM lakeu)) AS seen,
             |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
             |  FROM bu),
             |perdoc AS (
             |  SELECT doc_id, count(*) AS n_units,
             |    sum(CASE WHEN seen OR rn > 1 THEN 1 ELSE 0 END) AS n_dropped,
             |    coalesce(string_agg(CASE WHEN NOT (seen OR rn > 1) THEN unit END,
             |      ' ' ORDER BY pos), '') AS clean_text
             |  FROM marked GROUP BY doc_id)
             |SELECT count(*) AS n_docs,
             |  CAST(sum(n_units) AS BIGINT) AS n_units,
             |  CAST(sum(n_dropped) AS BIGINT) AS n_dropped,
             |  CAST(sum(length(clean_text)) AS BIGINT) AS sum_clean_chars,
             |  (SELECT count(*) FROM lakeu) +
             |  (SELECT count(DISTINCT unit) FROM bu
             |   WHERE unit NOT IN (SELECT unit FROM lakeu)) AS n_store_keys
             |FROM perdoc""".stripMargin)),

    QueryDef("qs11_stream_ingest_pipeline",
      (s, d) => {
        // THE COMPLETE INGEST PIPELINE in one standing stream: exact
        // stage on the stored fingerprint (within-batch keeper + the
        // index's fp sidecar), MinHash-LSH near-dup vs the persisted
        // index, then the paragraph keep-first REWRITE of the accepted
        // docs vs the seen-unit store — accepted docs + fps append to
        // the index, novel unit keys to the store, cleaned docs land as
        // per-batch parquet, all keyed on the micro-batch id and all
        // reads self-excluding for replay determinism. Planted rows as
        // in qs09 (+10000 lake clones → exact stage; +20000 batch
        // clones → within-batch keeper); near-dup semantics equal
        // qs07/qs09's; the paragraph stage equals qs10's applied to the
        // ACCEPTED set (units of original text, lake-built store).
        val docs = load(s, d, "documents")
        def tmp(prefix: String): String = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory(prefix).toString)
        val lake = docs.filter(col("doc_id") < 250)
        val idx = tmp("qs11idx")
        graft.operators.Dedup.lshBuild(lake, "text", "doc_id", idx)
        graft.operators.Dedup.lshWriteFingerprints(lake, "text", idx)
        val store = tmp("qs11store")
        graft.operators.ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
          graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), store)
        val batch = docs.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") < 3)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id").between(250, 252))
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .withColumn("fp", xxhash64(col("text")))
        val in = tmp("qs11in")
        batch.coalesce(1).write.mode("append").parquet(in)
        graft.streaming.DocsStream.runIngestPipelineAsStream(
          s, in, idx, store, tmp("qs11out"), "qs11_loop_mem",
          graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), " ",
          checkpointLocation = Some(tmp("qs11ckpt")))
      },
      Some("""WITH lake AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
             |batch AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
             |  UNION ALL SELECT doc_id + 10000, text FROM documents
             |    WHERE doc_id < 3
             |  UNION ALL SELECT doc_id + 20000, text FROM documents
             |    WHERE doc_id BETWEEN 250 AND 252),
             |within AS (
             |  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY text) AS keeper
             |                 FROM batch) WHERE doc_id = keeper),
             |ex AS (SELECT * FROM within WHERE text NOT IN (SELECT text FROM lake)),
             |tl AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM lake)),
             |tb AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM ex)),
             |nd AS (
             |  SELECT DISTINCT n.doc_id FROM tb n JOIN tl r
             |    ON CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE) /
             |       len(list_distinct(list_concat(n.sh, r.sh))) >= 0.8),
             |acc AS (SELECT doc_id, text FROM ex
             |        WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
             |lakeu AS (
             |  SELECT DISTINCT array_to_string(w[(i*16+1):(i*16+16)], ' ') AS unit
             |  FROM (SELECT string_split(text, ' ') AS w FROM lake),
             |       unnest(generate_series(0,
             |         CAST(ceil(len(w)/16.0) AS BIGINT) - 1)) AS t(i)),
             |bu AS (
             |  SELECT doc_id, i AS pos,
             |    array_to_string(w[(i*16+1):(i*16+16)], ' ') AS unit
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM acc),
             |       unnest(generate_series(0,
             |         CAST(ceil(len(w)/16.0) AS BIGINT) - 1)) AS t(i)),
             |marked AS (
             |  SELECT doc_id, pos, unit,
             |    (unit IN (SELECT unit FROM lakeu)) AS seen,
             |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
             |  FROM bu),
             |perdoc AS (
             |  SELECT doc_id, count(*) AS n_units,
             |    sum(CASE WHEN seen OR rn > 1 THEN 1 ELSE 0 END) AS n_dropped,
             |    coalesce(string_agg(CASE WHEN NOT (seen OR rn > 1) THEN unit END,
             |      ' ' ORDER BY pos), '') AS clean_text
             |  FROM marked GROUP BY doc_id)
             |SELECT
             |  (SELECT count(*) FROM acc) AS n_kept,
             |  (SELECT count(*) FROM lake) +
             |  (SELECT count(*) FROM acc) AS n_index_docs,
             |  CAST(sum(n_units) AS BIGINT) AS n_units,
             |  CAST(sum(n_dropped) AS BIGINT) AS n_dropped_units,
             |  CAST(sum(length(clean_text)) AS BIGINT) AS sum_clean_chars,
             |  (SELECT count(*) FROM lakeu) +
             |  (SELECT count(DISTINCT unit) FROM bu
             |   WHERE unit NOT IN (SELECT unit FROM lakeu)) AS n_store_keys
             |FROM perdoc""".stripMargin)),

    QueryDef("qs12_stream_ingest_to_shards",
      (s, d) => {
        // THE COMPLETE CRAWL-TO-TRAINING PIPELINE THROUGH SHARDS: qs11's
        // three dedup stages (exact fp → LSH near-dup → paragraph
        // rewrite, all reads self-excluding) PLUS the per-batch curation
        // tail — the assembled q86 chain (exact dedup on the CLEANED
        // text → benchmark decontamination → quality floor →
        // deterministic sample → per-source mix → per-language packing)
        // — landing as sorted language-partitioned training shards. The
        // gate reads the SHARD FILES back (the qs06 precedent: the
        // file-commit path is gated, not just the computation) and holds
        // them to ONE SQL statement recomputing the entire chain.
        // Fixture and planted rows as in qs11; benchmark = the % 31
        // slice of the corpus (q86's convention), params = q86's.
        val docs = load(s, d, "documents")
        def tmp(prefix: String): String = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory(prefix).toString)
        val lake = docs.filter(col("doc_id") < 250)
        val idx = tmp("qs12idx")
        graft.operators.Dedup.lshBuild(lake, "text", "doc_id", idx)
        graft.operators.Dedup.lshWriteFingerprints(lake, "text", idx)
        val store = tmp("qs12store")
        graft.operators.ParagraphDedup.unitStoreBuild(lake, "doc_id", "text",
          graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), store)
        val attrs = Seq(col("text"), col("lang"), col("source"))
        val batch = docs.filter(col("doc_id") >= 250)
          .select(col("doc_id") +: attrs: _*)
          .unionByName(docs.filter(col("doc_id") < 3)
            .select((col("doc_id") + 10000).as("doc_id") +: attrs: _*))
          .unionByName(docs.filter(col("doc_id").between(250, 252))
            .select((col("doc_id") + 20000).as("doc_id") +: attrs: _*))
          .withColumn("fp", xxhash64(col("text")))
        val in = tmp("qs12in")
        batch.coalesce(1).write.mode("append").parquet(in)
        graft.streaming.DocsStream.runIngestPipelineToShardsAsStream(
          s, in, idx, store, tmp("qs12out"), tmp("qs12shards"),
          "qs12_loop_mem",
          graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), " ",
          benchmark = docs.filter(col("doc_id") % 31 === 0),
          minWords = 20, minUniqRatio = 0.25, sampleNumerator = 128,
          weights = Map("src0" -> 2.0, "src1" -> 0.5), packBudget = 2000L,
          checkpointLocation = Some(tmp("qs12ckpt")))
          .orderBy(col("lang"), col("bin"))
      },
      Some("""WITH lake AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
             |batch AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
             |  UNION ALL SELECT doc_id + 10000, text FROM documents
             |    WHERE doc_id < 3
             |  UNION ALL SELECT doc_id + 20000, text FROM documents
             |    WHERE doc_id BETWEEN 250 AND 252),
             |within AS (
             |  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY text) AS keeper
             |                 FROM batch) WHERE doc_id = keeper),
             |ex AS (SELECT * FROM within WHERE text NOT IN (SELECT text FROM lake)),
             |tl AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM lake)),
             |tb AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM ex)),
             |nd AS (
             |  SELECT DISTINCT n.doc_id FROM tb n JOIN tl r
             |    ON CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE) /
             |       len(list_distinct(list_concat(n.sh, r.sh))) >= 0.8),
             |acc AS (SELECT doc_id, text FROM ex
             |        WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
             |lakeu AS (
             |  SELECT DISTINCT array_to_string(w[(i*16+1):(i*16+16)], ' ') AS unit
             |  FROM (SELECT string_split(text, ' ') AS w FROM lake),
             |       unnest(generate_series(0,
             |         CAST(ceil(len(w)/16.0) AS BIGINT) - 1)) AS t(i)),
             |bu AS (
             |  SELECT doc_id, i AS pos,
             |    array_to_string(w[(i*16+1):(i*16+16)], ' ') AS unit
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM acc),
             |       unnest(generate_series(0,
             |         CAST(ceil(len(w)/16.0) AS BIGINT) - 1)) AS t(i)),
             |marked AS (
             |  SELECT doc_id, pos, unit,
             |    (unit IN (SELECT unit FROM lakeu)) AS seen,
             |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
             |  FROM bu),
             |perdoc AS (
             |  SELECT doc_id,
             |    coalesce(string_agg(CASE WHEN NOT (seen OR rn > 1) THEN unit END,
             |      ' ' ORDER BY pos), '') AS clean_text
             |  FROM marked GROUP BY doc_id),
             |cleaned AS (
             |  SELECT p.doc_id, d.lang, d.source, p.clean_text
             |  FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id),
             |cdd AS (SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS rn
             |    FROM cleaned) WHERE rn = 1),
             |ngr AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+2], ' ')
             |          for i in range(1, greatest(len(ws)-2, 0)+1)]) AS gs
             |        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(clean_text)), '\s+') AS ws FROM cdd)),
             |bench AS (SELECT DISTINCT unnest(gs) AS g FROM (
             |    SELECT list_distinct([array_to_string(ws[i:i+2], ' ')
             |      for i in range(1, greatest(len(ws)-2, 0)+1)]) AS gs
             |    FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |          FROM documents WHERE doc_id % 31 = 0))),
             |hits AS (SELECT c.doc_id, count(*) AS n_hits
             |         FROM (SELECT doc_id, unnest(gs) AS g FROM ngr) c
             |         JOIN bench b ON c.g = b.g GROUP BY 1),
             |decon AS (SELECT d.* FROM cdd d LEFT JOIN hits h ON d.doc_id = h.doc_id
             |          WHERE coalesce(h.n_hits, 0) < 2),
             |q AS (SELECT *, CAST(len(string_split(clean_text, ' ')) AS INT) AS words,
             |        CAST(len(list_distinct(string_split(clean_text, ' '))) AS DOUBLE) AS uniq
             |      FROM decon),
             |qf AS (SELECT * FROM q WHERE words >= 20 AND uniq / words >= 0.25),
             |samp AS (SELECT * FROM qf
             |         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'),
             |wt AS (SELECT *, CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 0.5
             |         ELSE 1.0 END AS wgt FROM samp),
             |cp AS (SELECT *, CAST(floor(wgt) AS BIGINT) +
             |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
             |           printf('%04x', CAST(floor((wgt - floor(wgt)) * 65536) AS BIGINT))
             |         THEN 1 ELSE 0 END AS n_copies FROM wt),
             |mix AS (SELECT lang, doc_id, words,
             |          unnest(generate_series(0, n_copies - 1)) AS replica
             |        FROM cp WHERE n_copies > 0),
             |bins AS (SELECT lang, words, CAST(floor(coalesce(sum(words) OVER (
             |           PARTITION BY lang ORDER BY doc_id * 8 + replica
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
             |           AS BIGINT) AS bin
             |         FROM mix)
             |SELECT lang, bin, count(*) AS n_docs,
             |  CAST(sum(words) AS BIGINT) AS sum_tokens
             |FROM bins GROUP BY lang, bin ORDER BY lang, bin""".stripMargin)),

    QueryDef("qs06_stream_to_shards",
      (s, d) => {
        // STREAMING SINK gate: the curated stream lands as
        // language-partitioned shard files via foreachBatch; the gate
        // reads the shards BACK and holds them to the same oracle as
        // the in-stream qs03 summary — gating the file-commit path, not
        // just the computation.
        val tmp = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory("qs06in").toString)
        val out = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory("qs06out").toString) + "/shards"
        load(s, d, "documents").coalesce(1).write.mode("append").parquet(tmp)
        runCurationToShards(s, tmp, out)
        s.read.parquet(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("redacted"))).cast("long").as("sum_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, lang, text || CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com or admin@test.org today'
             |    WHEN 1 THEN ' call +1 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' now'
             |    ELSE ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 and 192.168.1.' || CAST(doc_id % 200 AS VARCHAR) || ' up'
             |  END AS t FROM documents),
             |red AS (
             |  SELECT doc_id, lang,
             |    regexp_replace(regexp_replace(regexp_replace(t,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\+[0-9]{1,3} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
             |  FROM aug
             |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14')
             |SELECT lang, count(*) AS n, CAST(sum(length(redacted)) AS BIGINT) AS sum_chars
             |FROM red GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("qs03_stream_curation",
      (s, d) => {
        // STREAMING curation gate: plant → redact → deterministic sample
        // → per-language summary runs as a real Structured Streaming
        // query (file source, complete-mode memory sink) using the SAME
        // Column expressions and operators as the q69/q74 batch gates —
        // so the batch path and the ingestion stream provably cannot
        // drift. The oracle recomputes redaction+sampling in SQL; the
        // sum over REDACTED lengths only matches if redaction actually
        // ran inside the stream.
        val tmp = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory("qs03").toString)
        load(s, d, "documents").coalesce(1).write.mode("append").parquet(tmp)
        runCurationAsStream(s, tmp, "qs03_curation_mem")
          .orderBy(col("lang"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, lang, text || CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com or admin@test.org today'
             |    WHEN 1 THEN ' call +1 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' now'
             |    ELSE ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 and 192.168.1.' || CAST(doc_id % 200 AS VARCHAR) || ' up'
             |  END AS t FROM documents),
             |red AS (
             |  SELECT doc_id, lang,
             |    regexp_replace(regexp_replace(regexp_replace(t,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\+[0-9]{1,3} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
             |  FROM aug
             |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14')
             |SELECT lang, count(*) AS n, CAST(sum(length(redacted)) AS BIGINT) AS sum_chars
             |FROM red GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q100_train_order",
      (s, d) => {
        // Seed-stable global training-order shuffle with contiguous
        // positions. Gated on the PORTABLE md5 key so the oracle
        // recomputes the exact permutation (both engines hash the same
        // "<seed>:<id>" string to the same lowercase hex); the xxhash64
        // deployment key is pinned by TrainOrderSpec (bijection,
        // determinism, partitioning independence, seed sensitivity).
        graft.operators.TrainOrder.withPosition(
            load(s, d, "documents"), "doc_id",
            graft.operators.TrainOrder.md5Key(42L) _, "train_pos")
          .select(col("doc_id"), col("train_pos"))
          .orderBy(col("train_pos"))
      },
      Some("""SELECT doc_id,
             |  row_number() OVER (ORDER BY md5(concat('42:', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS train_pos
             |FROM documents ORDER BY train_pos""".stripMargin))
  )
}
