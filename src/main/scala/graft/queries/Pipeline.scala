package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, SimilaritySearch}
import graft.functions.{TextFunctions, VectorExpressions}

/** Training-data-pipeline operators as correctness-gate entries: MinHash
  * LSH near-dup (exact-verified, so the oracle is the exact all-pairs
  * computation), SimHash, multimodal decode plumbing, frame sampling, ANN,
  * and the native rolling-hash Expression. Queries without an oracle are
  * deterministic but not SQL-expressible (seeded hashes) — the driver
  * records rows-only checks; their semantics are pinned by DedupSpec /
  * MultimodalSpec planted fixtures.
  */
object Pipeline {

  /** q97's built index, cached per dataset dir for the JVM's lifetime:
    * the query builder runs once per gate run, plan inspection, and spec
    * — rebuilding the two-pass index each time re-paid the build and
    * leaked a parquet dir in /tmp per invocation. Within one JVM the
    * dataset at a given path is immutable, so the cache key is the
    * absolute dir; the dirs are deferred-deleted via
    * [[graft.core.TempDirs]] at JVM exit.
    */
  private val q97IndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q47_minhash_lsh_neardup",
      (s, d) => Dedup.minhashLshPairs(
          load(s, d, "documents"), "text", "doc_id",
          threshold = 0.8, numPerm = 128, bands = 16, shingleK = 3)
        .orderBy(col("id_a"), col("id_b")),
      // LSH recall with 16 bands × 8 rows is 1-(1-j^8)^16: ≈0.9999 at the
      // corpus's planted j≥0.9 pairs — verified output equals exact all-pairs.
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents))
             |SELECT id_a, id_b, jaccard FROM (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
             |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
             |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q48_minhash_dedup_count",
      (s, d) => {
        val docs = load(s, d, "documents")
        val kept = Dedup.minhashLshDedup(docs, "text", "doc_id", threshold = 0.8)
        kept.agg(count(lit(1)).as("n_kept"))
      },
      // every near-dup pair drops its larger id; with the exact pair set
      // the kept count is total - |distinct larger ids|
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents)),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM t a JOIN t b ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
             |SELECT (SELECT count(*) FROM documents) -
             |       (SELECT count(DISTINCT id_b) FROM pairs) AS n_kept""".stripMargin)),

    QueryDef("q96_dedup_against",
      (s, d) => {
        // Incremental-ingestion dedup: the docs with id >= 250 are the
        // "new batch", those below are the already-kept reference lake;
        // the operator reports every verified cross-corpus near-dup pair
        // (13 of the fixture's 25 planted pairs straddle the split — the
        // 12 within-half pairs must NOT appear). Same LSH family and
        // recall bound as q47 (1-(1-j^8)^16 ≈ 0.9999 at planted j ≥ 0.9),
        // so the verified output equals the exact cross all-pairs oracle.
        val docs = load(s, d, "documents")
        Dedup.minhashLshAgainstPairs(
            docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
            "text", "doc_id", threshold = 0.8, numPerm = 128, bands = 16,
            shingleK = 3)
          .orderBy(col("id"), col("ref_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents))
             |SELECT id, ref_id, jaccard FROM (
             |  SELECT n.doc_id AS id, r.doc_id AS ref_id,
             |    round(CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE) /
             |          len(list_distinct(list_concat(n.sh, r.sh))), 4) AS jaccard
             |  FROM t n JOIN t r ON n.doc_id >= 250 AND r.doc_id < 250)
             |WHERE jaccard >= 0.8 ORDER BY id, ref_id""".stripMargin)),

    QueryDef("q97_dedup_against_index",
      (s, d) => {
        // The PERSISTED-index form of q96: build the reference half's LSH
        // index once (lshBuild — the lake's one-time signature pass),
        // then find cross pairs by joining the new batch's band rows
        // against the stored index. Identical pair semantics to q96 (the
        // batch is signed with the parameters stored IN the index, so the
        // hash families cannot diverge), same exact cross all-pairs
        // oracle; the reference side at query time is parquet scans only
        // (no signature UDF — plan-pinned in OperatorsSpec).
        val docs = load(s, d, "documents")
        val idx = q97IndexCache.computeIfAbsent(
          new java.io.File(d).getAbsolutePath, _ => {
            val p = graft.core.TempDirs.deleteOnExit(java.nio.file.Files
              .createTempDirectory("graft_q97_lsh_idx").toString)
            Dedup.lshBuild(docs.filter(col("doc_id") < 250), "text",
              "doc_id", p, numPerm = 128, bands = 16, shingleK = 3)
            p
          })
        Dedup.minhashLshIndexPairs(docs.filter(col("doc_id") >= 250), idx,
            "text", "doc_id", threshold = 0.8)
          .orderBy(col("id"), col("ref_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
             |         for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents))
             |SELECT id, ref_id, jaccard FROM (
             |  SELECT n.doc_id AS id, r.doc_id AS ref_id,
             |    round(CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE) /
             |          len(list_distinct(list_concat(n.sh, r.sh))), 4) AS jaccard
             |  FROM t n JOIN t r ON n.doc_id >= 250 AND r.doc_id < 250)
             |WHERE jaccard >= 0.8 ORDER BY id, ref_id""".stripMargin)),

    QueryDef("q49_simhash_pairs",
      (s, d) => {
        // The seeded 64-bit signature is not SQL-expressible, so the gate
        // checks the scale-critical property instead: pigeonhole banding is
        // EXHAUSTIVE. Two independent piece decompositions (4×16-bit vs
        // C(6,3)=20 combination bands) must produce the identical pair set
        // — their symmetric difference is provably empty, which the oracle
        // pins as a 0-row hash match. Signature values themselves are
        // pinned by OperatorsSpec planted fixtures.
        val docs = load(s, d, "documents")
        // the two decompositions and the double-sided diff reuse the same
        // intermediates — cache them or the signature scan runs 4x and
        // each banding pipeline 2x
        val sigs = docs.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
          .select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("sig")).cache()
        val narrow = Dedup.simhashPairsOnSigs(sigs, maxDistance = 3).cache()
        val wide = Dedup.simhashPairsOnSigs(sigs, maxDistance = 3, pieces = 6).cache()
        val diff = narrow.exceptAll(wide).union(wide.exceptAll(narrow))
          .orderBy(col("id_a"), col("id_b"))
        // materialize the (expected-empty) symmetric difference locally so
        // the three cached intermediates can be released before the next
        // gate query runs — cached blocks must not outlive this query
        val rows = diff.collect()
        sigs.unpersist(); narrow.unpersist(); wide.unpersist()
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), diff.schema)
      },
      Some("""SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
             |CAST(NULL AS INT) AS hamming WHERE 1 = 0""".stripMargin)),

    QueryDef("q53_multimodal_decode",
      (s, d) => {
        // Binary plumbing: wrap each doc as a fake GIMG asset whose
        // header dims derive from doc fields, decode executor-side.
        val docs = load(s, d, "documents")
          .withColumn("img", concat(
            concat_ws("|", lit("GIMG"), (col("n_chars") % 640).cast("string"),
              (col("doc_id") % 480).cast("string"), lit("3")),
            lit("|"), col("text")).cast("binary"))
        Multimodal.decodeImageMeta(docs.select(col("doc_id"), col("img")), "img")
          .select(col("doc_id"),
            col("image_meta.width").as("width"),
            col("image_meta.height").as("height"),
            col("image_meta.channels").as("channels"),
            col("image_meta.n_bytes").as("n_bytes"))
          .orderBy(col("doc_id"))
          .limit(500)
      },
      Some("""SELECT doc_id,
             |CAST(n_chars % 640 AS INT) AS width,
             |CAST(doc_id % 480 AS INT) AS height,
             |3 AS channels,
             |CAST(length('GIMG|' || CAST(n_chars % 640 AS VARCHAR) || '|' ||
             |  CAST(doc_id % 480 AS VARCHAR) || '|3|' || text) AS BIGINT) AS n_bytes
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    QueryDef("q54_frame_sample",
      (s, d) => {
        val docs = load(s, d, "documents").filter(col("doc_id") < 100)
          .withColumn("vid", col("text").cast("binary"))
        Multimodal.sampleFrames(docs, "vid", "doc_id", frameSize = 64, stride = 2)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
          .orderBy(col("doc_id"))
      },
      // frames kept = ceil(ceil(len/64) / 2)
      Some("""SELECT doc_id,
             |CAST(ceil(ceil(length(text) / 64.0) / 2.0) AS BIGINT) AS n_frames
             |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)),

    QueryDef("q55_ann_topk",
      (s, d) => {
        // 16 tables × 8-bit signatures with radius-2 multiprobe reaches
        // full recall of the true top-10 on this corpus (probed at every
        // SF), so the approximate path is held to the EXACT brute-force
        // oracle — a value-level check of the whole LSH pipeline, not a
        // rows-only count.
        val emb = load(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        SimilaritySearch.annTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", query, k = 10, nBits = 8, nTables = 16,
          multiprobe = 2, scale = 4)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |t AS (SELECT v AS tv FROM e WHERE vec_id = 0)
             |SELECT vec_id AS id,
             |round(list_dot_product(v, tv) /
             |  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(tv, tv))), 4) AS cos_sim
             |FROM e, t WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, id LIMIT 10""".stripMargin)),

    QueryDef("q65_ivf_topk",
      (s, d) => {
        // IVF-flat. The synthetic embeddings are unclustered (near-uniform
        // random), so partial-probe recall is a property of the DATA, not
        // the operator — the gate instead pins the operator's invariant:
        // cells PARTITION the corpus losslessly, so probing all nlist
        // cells must reproduce the exact brute-force top-k bit-for-bit
        // (assignment drops/duplicates nothing; in-cell ranking is exact
        // cosine). Partial-probe recall on clustered data is spec-tested
        // with a planted cluster (OperatorsSpec).
        val emb = load(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        SimilaritySearch.ivfTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", query, k = 10, nlist = 16, nprobe = 16,
          scale = 4)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |t AS (SELECT v AS tv FROM e WHERE vec_id = 0)
             |SELECT vec_id AS id,
             |round(list_dot_product(v, tv) /
             |  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(tv, tv))), 4) AS cos_sim
             |FROM e, t WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, id LIMIT 10""".stripMargin)),

    QueryDef("q82_ivf_index_append",
      (s, d) => {
        // The IVF index's DAY-2 lifecycle, oracle-gated with q65's
        // lossless-partition invariant: build the persisted index on
        // HALF the corpus, ivfAppend the other half (commit-marker
        // protocol, appendId keyed), then probe ALL cells — cells
        // partition the corpus losslessly and appended vectors are
        // assigned by the SAME frozen quantizer, so the full probe must
        // reproduce the exact brute-force top-k over the WHOLE corpus
        // bit-for-bit. An append that dropped, duplicated, or
        // mis-assigned rows breaks the equality. The second append of
        // the same appendId is the in-gate retry: a no-op by contract.
        val emb = load(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        val corpus = emb.filter(col("vec_id") =!= 0)
        val idx = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory("q82ivfidx").toString)
        SimilaritySearch.ivfBuild(
          corpus.filter(col("vec_id") % 2 === 1), "embedding", "vec_id",
          nlist = 16, idx)
        val batch = corpus.filter(col("vec_id") % 2 === 0)
        SimilaritySearch.ivfAppend(batch, "embedding", "vec_id", idx,
          appendId = Some("day1"))
        SimilaritySearch.ivfAppend(batch, "embedding", "vec_id", idx,
          appendId = Some("day1")) // retried delivery — must no-op
        SimilaritySearch.ivfQuery(s, idx, "embedding", "vec_id", query,
          k = 10, nprobe = 16, scale = 4)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |t AS (SELECT v AS tv FROM e WHERE vec_id = 0)
             |SELECT vec_id AS id,
             |round(list_dot_product(v, tv) /
             |  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(tv, tv))), 4) AS cos_sim
             |FROM e, t WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, id LIMIT 10""".stripMargin)),

    QueryDef("qs08_stream_ivf_ingest",
      (s, d) => {
        // STREAMING ANN INGEST gate: the IVF index's day-2 lifecycle
        // driven by Structured Streaming — build the persisted index on
        // half the embeddings, stream the other half through
        // runIvfIngestAsStream (per-micro-batch ivfAppend keyed on the
        // batch id, checkpointed), then probe ALL cells: the lossless
        // cells + frozen quantizer make the full probe equal the exact
        // brute-force top-k over the WHOLE corpus — the same oracle as
        // q65/q82, now gating the streaming file-commit path.
        val emb = load(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        val corpus = emb.filter(col("vec_id") =!= 0)
        def tmp(prefix: String): String = graft.core.TempDirs.deleteOnExit(
          java.nio.file.Files.createTempDirectory(prefix).toString)
        val idx = tmp("qs08idx")
        SimilaritySearch.ivfBuild(
          corpus.filter(col("vec_id") % 2 === 1), "embedding", "vec_id",
          nlist = 16, idx)
        val in = tmp("qs08in")
        corpus.filter(col("vec_id") % 2 === 0).coalesce(1)
          .write.mode("append").parquet(in)
        graft.streaming.DocsStream.runIvfIngestAsStream(
          s, in, idx, "qs08_ivf_mem",
          checkpointLocation = Some(tmp("qs08ckpt")))
        SimilaritySearch.ivfQuery(s, idx, "embedding", "vec_id", query,
          k = 10, nprobe = 16, scale = 4)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |t AS (SELECT v AS tv FROM e WHERE vec_id = 0)
             |SELECT vec_id AS id,
             |round(list_dot_product(v, tv) /
             |  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(tv, tv))), 4) AS cos_sim
             |FROM e, t WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, id LIMIT 10""".stripMargin)),

    QueryDef("q67_image_meta",
      (s, d) => {
        // REAL codec gate: deterministic PNG (RGB + grayscale) and JPEG
        // bytes built with the JDK's own ImageIO writers, decoded by the
        // javax.imageio header-only metadata path (the GIMG fixture path
        // is exercised by q53). Expected dims/bands are literal VALUES in
        // the oracle — independent of the encoder's byte output.
        import s.implicits._
        val rows = Seq(
          (1L, Multimodal.encodeImage(17, 9, "png")),
          (2L, Multimodal.encodeImage(33, 21, "png", gray = true)),
          (3L, Multimodal.encodeImage(24, 16, "jpg")),
          (4L, Multimodal.encodeFakeImage(5, 4, 3, Array[Byte](1, 2, 3))),
          (5L, "not an image".getBytes("UTF-8")))
        Multimodal.decodeImageMeta(rows.toDF("img_id", "img"), "img")
          .select(col("img_id"),
            col("image_meta.width").as("width"),
            col("image_meta.height").as("height"),
            col("image_meta.channels").as("channels"),
            col("image_meta.error").as("error"))
          .orderBy(col("img_id"))
      },
      Some("""SELECT * FROM (VALUES
             |(CAST(1 AS BIGINT), CAST(17 AS INT), CAST(9 AS INT), CAST(3 AS INT), CAST(NULL AS VARCHAR)),
             |(CAST(2 AS BIGINT), CAST(33 AS INT), CAST(21 AS INT), CAST(1 AS INT), CAST(NULL AS VARCHAR)),
             |(CAST(3 AS BIGINT), CAST(24 AS INT), CAST(16 AS INT), CAST(3 AS INT), CAST(NULL AS VARCHAR)),
             |(CAST(4 AS BIGINT), CAST(5 AS INT), CAST(4 AS INT), CAST(3 AS INT), CAST(NULL AS VARCHAR)),
             |(CAST(5 AS BIGINT), CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT), 'unsupported format'))
             |AS t(img_id, width, height, channels, error)
             |ORDER BY img_id""".stripMargin)),

    QueryDef("q56_rolling_hash",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("rh"))
        .orderBy(col("doc_id"))
        .limit(100),
      // h = h*31 + byte mod 2^64 in HUGEINT, folded back to signed BIGINT.
      // unicode(c) == utf-8 byte only for ASCII text — which the synthetic
      // corpus is (max codepoint 121, checked at every SF).
      Some("""SELECT doc_id,
             |CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
             |  THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS rh
             |FROM (
             |  SELECT doc_id,
             |    CASE WHEN length(text) = 0 THEN 0::HUGEINT ELSE
             |      list_reduce(
             |        list_prepend(0::HUGEINT,
             |          [unicode(c)::HUGEINT for c in string_split(text, '')]),
             |        (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT)
             |    END AS h
             |  FROM documents)
             |ORDER BY doc_id LIMIT 100""".stripMargin)),

    QueryDef("q57_quality_signals",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
        .select(col("doc_id"), col("q.n_words").as("n_words"),
          col("q.uniq_ratio").as("uniq_ratio"),
          col("q.stopword_ratio").as("stopword_ratio"))
        .orderBy(col("doc_id"))
        .limit(500),
      Some("""SELECT doc_id, CAST(len(w) AS INT) AS n_words,
             |round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS uniq_ratio,
             |round(CAST(len(list_filter(w, x -> list_contains(
             |  ['the','a','an','and','or','of','to','in','is','it'], lower(x)))) AS DOUBLE)
             |  / len(w), 4) AS stopword_ratio
             |FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
             |ORDER BY doc_id LIMIT 500""".stripMargin)),

    QueryDef("q58_langid_ngram",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred")),
      // marker-count argmax is plain arithmetic: score each language by
      // non-overlapping marker occurrences (split-count), pick the first
      // language in (de,en,es,fr) order achieving the max, 'unk' on zero —
      // exactly TextFunctions.langId's fold semantics.
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    len(string_split(p,' the '))-1 + len(string_split(p,' and '))-1 +
             |    len(string_split(p,' of '))-1  + len(string_split(p,' a '))-1   AS en,
             |    len(string_split(p,' der '))-1 + len(string_split(p,' und '))-1 +
             |    len(string_split(p,' die '))-1 + len(string_split(p,' das '))-1 AS de,
             |    len(string_split(p,' le '))-1  + len(string_split(p,' la '))-1 +
             |    len(string_split(p,' les '))-1 + len(string_split(p,' et '))-1  AS fr,
             |    len(string_split(p,' el '))-1  + len(string_split(p,' los '))-1 +
             |    len(string_split(p,' las '))-1 + len(string_split(p,' y '))-1   AS es
             |  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents))
             |SELECT lang_pred, count(*) AS n FROM (
             |  SELECT CASE WHEN greatest(de, en, es, fr) <= 0 THEN 'unk'
             |    WHEN de >= en AND de >= es AND de >= fr THEN 'de'
             |    WHEN en >= es AND en >= fr THEN 'en'
             |    WHEN es >= fr THEN 'es'
             |    ELSE 'fr' END AS lang_pred
             |  FROM s) GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)),

    QueryDef("q75_quantized_ann",
      (s, d) => {
        // int8 scalar quantization with exact rescoring: the quantized
        // pass ranks on 4×-smaller codes (cosine is scale-invariant, so
        // codes need no dequantization), a pool of 2k candidates is
        // re-ranked by exact cosine — and the result is held to the
        // EXACT brute-force oracle, value-checking the whole
        // quantize→rank→rescore pipeline. Pool sufficiency was probed:
        // quantized top-20 contains the exact top-10 with margin
        // (~1e-3 cosine error vs ~1e-2 candidate gaps).
        val emb = load(s, d, "embeddings")
        val query = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        SimilaritySearch.quantizedTopK(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", query, k = 10, pool = 20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |t AS (SELECT v AS tv FROM e WHERE vec_id = 0)
             |SELECT vec_id AS id,
             |round(list_dot_product(v, tv) /
             |  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(tv, tv))), 4) AS cos_sim
             |FROM e, t WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, id LIMIT 10""".stripMargin)),

    QueryDef("q59_embedding_lsh_neardup",
      (s, d) => {
        // LSH recall at threshold 0.3 is < 1 by design (~33% here), so the
        // raw pair list has no SQL oracle. The gate pins what IS provable:
        // (a) n_exact_pairs — the engine's brute-force cosine pair count,
        //     value-checked against DuckDB's independent computation;
        // (b) n_false_positives = |LSH pairs ∖ exact pairs| — containment:
        //     every LSH-surfaced pair must be a true near-dup pair (the
        //     operator verifies exact cosine on candidates, so this is 0).
        val emb = load(s, d, "embeddings").filter(col("vec_id") < 300)
        val lsh = SimilaritySearch.cosineNearDupPairs(
          emb, "embedding", "vec_id", threshold = 0.3, nBits = 6, nTables = 8)
        val e = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        val exact = a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(VectorExpressions.cosineSim(col("va"), col("vb")), 6).as("cos_sim"))
          .filter(col("cos_sim") >= 0.3)
        // set difference spelled as a broadcast ANTI join, not exceptAll
        // (round 20, sf0.1 stage-floor shave): both sides are
        // duplicate-free — the operator dropDuplicates its pairs, the
        // exact side joins unique ids — and neither carries nulls (the
        // >= threshold filter rejects null cos_sim; Spark equality
        // treats NaN = NaN as true on both paths), so anti-join count ≡
        // exceptAll count row for row. exceptAll planned a union +
        // replicate-count aggregate: one more full exchange + stage than
        // the broadcast build of the ≤ C(300,2)-row exact side (the
        // gate's fixed 300-vector block makes the broadcast bounded by
        // construction). Same one-row output, oracle hash unchanged.
        exact.agg(count(lit(1)).as("n_exact_pairs"))
          .crossJoin(lsh.join(broadcast(exact), Seq("id_a", "id_b", "cos_sim"),
              "left_anti")
            .agg(count(lit(1)).as("n_false_positives")))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings WHERE vec_id < 300),
             |p AS (SELECT round(list_dot_product(a.v, b.v) /
             |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS c
             |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_positives
             |FROM p WHERE c >= 0.3""".stripMargin))
  )
}
