package graft.queries

import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (token counting, quality scoring,
  * language-ID heuristic, fingerprinting, exact + n-gram dedup).
  *
  * Scale notes: every operator is a single groupBy/self-join over hashed
  * or tokenized columns — no driver-side collection; pairwise similarity
  * is always bounded by a blocking key (here a doc_id range / length
  * bucket) so the join never goes quadratic on the full corpus.
  */
object TextAnalysis {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q40_doc_tokens",
      // TopN FIRST, tokenize after: the original shape split() every
      // document into a token array just to take its size, then threw
      // all but 500 rows away — Catalyst does not defer projections
      // past a TakeOrdered, so do it explicitly. Tokenizing 500 rows
      // instead of the corpus measured 0.23 s vs 0.93 s at sf10 and
      // removes the corpus-sized allocation entirely (Probe q40v0-v2;
      // the array-free translate() variant measured SLOWER than split —
      // the array was never the bottleneck, the per-row work was).
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .limit(500)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          length(col("text")).as("n_chars_computed"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             |CAST(length(text) AS INT) AS n_chars_computed
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    QueryDef("q41_doc_quality",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).as("words"),
          size(array_distinct(split(col("text"), " "))).as("uniq_words"))
        .select(col("doc_id"), col("words"),
          round(col("uniq_words").cast("double") / col("words"), 4).as("uniq_ratio"),
          round((length(col("text")) - col("words") + 1).cast("double") / col("words"), 4)
            .as("avg_word_len"))
        .orderBy(col("doc_id"))
        .limit(500),
      Some("""SELECT doc_id, words,
             |round(CAST(uniq_words AS DOUBLE) / words, 4) AS uniq_ratio,
             |round(CAST(length(text) - words + 1 AS DOUBLE) / words, 4) AS avg_word_len
             |FROM (SELECT doc_id, text,
             |  CAST(len(string_split(text,' ')) AS INT) AS words,
             |  CAST(len(list_distinct(string_split(text,' '))) AS INT) AS uniq_words
             |  FROM documents)
             |ORDER BY doc_id LIMIT 500""".stripMargin)),

    QueryDef("q42_langid_heuristic",
      (s, d) => {
        // Marker-word language ID: deterministic heuristic, identical in
        // both engines (stand-in for an n-gram model; the synthetic corpus
        // is English-ish so markers dominate).
        val padded = concat(lit(" "), col("text"), lit(" "))
        load(s, d, "documents")
          .select(col("doc_id"),
            when(padded.contains(" the ") || padded.contains(" a "), "en")
              .when(padded.contains(" der ") || padded.contains(" und "), "de")
              .when(padded.contains(" le ") || padded.contains(" la "), "fr")
              .otherwise("unk").as("lang_pred"))
          .groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang_pred"))
      },
      Some("""SELECT lang_pred, count(*) AS n FROM (
             |SELECT doc_id, CASE
             |  WHEN contains(' ' || text || ' ', ' the ') OR contains(' ' || text || ' ', ' a ') THEN 'en'
             |  WHEN contains(' ' || text || ' ', ' der ') OR contains(' ' || text || ' ', ' und ') THEN 'de'
             |  WHEN contains(' ' || text || ' ', ' le ') OR contains(' ' || text || ' ', ' la ') THEN 'fr'
             |  ELSE 'unk' END AS lang_pred
             |FROM documents) GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)),

    QueryDef("q43_fingerprint",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
        .orderBy(col("doc_id"))
        .limit(500),
      Some("""SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    QueryDef("q44_dedup_exact",
      // Two cost-gated shapes, both grouping on the 16-byte unhex(md5)
      // BINARY (not the 32-char hex string: binary halves the exchange's
      // key bytes and compares without string collation — 1.33 s vs
      // 7.37 s at sf100, Probe q44v0/v1; hex re-encoding happens only on
      // the surviving duplicate groups, lower() because hex() emits
      // uppercase, md5() lowercase).
      //
      // Above 32 MB of input the md5 compute itself dominates (the md5
      // scan alone costs more than DuckDB's whole query at sf100 —
      // SCALE.md floor decomposition), so the large regime PREHASHES
      // with codegen'd xxhash64 (8 bytes, no MessageDigest): pass 1
      // finds COLLIDING xxhash64 groups (~0.16% of rows at every SF),
      // pass 2 broadcast-semi filters to those rows and runs md5 only
      // there. md5 still decides group identity and emits the output
      // hash — any md5-dup pair has equal text, hence equal xxhash64,
      // hence survives the prefilter — so oracle semantics are
      // unchanged. Probe q44v1/v2: 1.50→1.24 s at sf100, 0.82→0.75 s
      // at sf30, 0.71→0.65 s at sf10; below the gate the extra stages
      // lose to the single-pass shape (0.32→0.36 s at sf0.1), which is
      // why the gate exists. The broadcast is gated on the MEASURED
      // colliding-group count (capped limit+collect, round 14): a small
      // set broadcasts as a driver literal with no probe-side shuffle, a
      // crawl-scale set falls back to the unhinted spill-safe semi
      // (Probe q44v2/v3/v4 for the three shapes).
      (s, d) => {
        // the gate + prefilter live in ONE place
        // (Dedup.collidingTextPrefilter) shared with Dedup.exactGroups
        val base = graft.operators.Dedup
          .collidingTextPrefilter(load(s, d, "documents"), "text")
        base
          .groupBy(unhex(md5(col("text"))).as("hb"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .select(lower(hex(col("hb"))).as("h"), col("keeper"), col("n_copies"))
          .orderBy(col("keeper"))
      },
      Some("""SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
             |FROM documents GROUP BY md5(text) HAVING count(*) > 1
             |ORDER BY keeper""".stripMargin)),

    QueryDef("q98_dedup_exact_prehashed",
      // q44 on the hash-at-ingest layout (Dedup.exactGroups, hashCol):
      // the 64-bit fingerprint column a 100 TB lake stores at ingest is
      // materialized in-flight here (the bench variant reads it from a
      // stored table instead); the colliding probe groups on the stored
      // column — no xxhash64 of text anywhere in the plan — and md5 runs
      // on colliding survivors only. Output must equal q44's oracle
      // exactly (same md5 group identity, same keeper/count semantics).
      (s, d) => {
        val docs = load(s, d, "documents")
          .withColumn("__xh", xxhash64(col("text")))
        // gateBytes = 0 forces the prehashed prefilter at gate scale
        // (sf0.01 sits below the production 32 MB gate)
        graft.operators.Dedup
          .exactGroups(docs, "text", "doc_id", gateBytes = 0L, hashCol = Some("__xh"))
          .select(col("content_hash").as("h"), col("keeper"), col("n_copies"))
          .orderBy(col("keeper"))
      },
      Some("""SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
             |FROM documents GROUP BY md5(text) HAVING count(*) > 1
             |ORDER BY keeper""".stripMargin)),

    QueryDef("q99_dedup_exact_fingerprint",
      // The DEPLOYMENT shape of exact dedup on the hash-at-ingest layout
      // (Dedup.exactGroupsFingerprint): group identity is the stored
      // 64-bit fingerprint, so the plan touches no text — the md5 pass
      // lives only in the audit view (q44/q98). The gate corpus has no
      // exact dups (q44 is an empty-set gate), so dups are PLANTED
      // in-query the way q69 plants PII: both engines append an
      // id-shifted copy of the first 50 docs, giving 50 two-row groups.
      // The fingerprint itself is not oracle-comparable (xxhash64 vs
      // md5), so the gate emits the group STRUCTURE — (keeper,
      // n_copies) per group, ordered — which equals the md5 oracle's
      // exactly when no cross-text fingerprint collision exists in the
      // corpus (the operator's documented contract).
      (s, d) => {
        val docs = load(s, d, "documents").select(col("doc_id"), col("text"))
        val planted = docs.unionByName(
          docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        graft.operators.Dedup.exactGroupsFingerprint(
            planted.withColumn("xh", xxhash64(col("text"))), "doc_id", "xh")
          .select(col("keeper"), col("n_copies"))
          .orderBy(col("keeper"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50)
             |SELECT min(doc_id) AS keeper, count(*) AS n_copies
             |FROM aug GROUP BY md5(text) HAVING count(*) > 1
             |ORDER BY keeper""".stripMargin)),

    QueryDef("q45_dedup_exact_summary",
      (s, d) => {
        val docs = load(s, d, "documents")
        docs.agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
          .select(col("n_docs"), col("n_unique"),
            (col("n_docs") - col("n_unique")).as("n_dupes"))
      },
      Some("""SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
             |count(*) - count(DISTINCT md5(text)) AS n_dupes FROM documents""".stripMargin)),

    QueryDef("q46_ngram_jaccard",
      (s, d) => {
        // Exact 3-shingle Jaccard via the blocked-pairs operator: the
        // length-bucket block key turns the pairwise comparison into an
        // equi-join (shuffle on blk) instead of a cartesian shape — the
        // plan the operator exists to guarantee. Near-identical docs land
        // in the same length bucket; cross-bucket pairs are out of scope
        // by definition of the blocking, and the oracle applies the same
        // block.
        val docs = load(s, d, "documents").filter(col("doc_id") < 200)
        graft.operators.Dedup.ngramJaccardPairs(
            docs, "text", "doc_id",
            blockCol = floor(length(col("text")) / 100), threshold = 0.8, k = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(floor(length(text) / 100) AS BIGINT) AS blk,
             |    list_distinct([array_to_string(w[i:i+2], ' ')
             |      for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
             |        FROM documents WHERE doc_id < 200))
             |SELECT id_a, id_b, jaccard FROM (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |          len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
             |  FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id)
             |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q68_neardup_components",
      (s, d) => {
        // Pairs → CLUSTERS: connected components over the q46 near-dup
        // pair graph (large-star/small-star), then cluster sizes. This
        // is the transitive step pair-level dedup cannot express — a
        // chain a–b, b–c is ONE cluster even though (a,c) was never a
        // candidate pair. Oracle: recursive-CTE transitive closure over
        // the same pair set.
        val docs = load(s, d, "documents").filter(col("doc_id") < 200)
        val pairs = graft.operators.Dedup.ngramJaccardPairs(
          docs, "text", "doc_id",
          blockCol = floor(length(col("text")) / 100), threshold = 0.8, k = 3)
        graft.operators.ConnectedComponents.components(pairs, "id_a", "id_b")
          .groupBy(col("component"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy(col("component"))
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT doc_id, CAST(floor(length(text) / 100) AS BIGINT) AS blk,
             |    list_distinct([array_to_string(w[i:i+2], ' ')
             |      for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
             |        FROM documents WHERE doc_id < 200)),
             |pairs AS (
             |  SELECT id_a, id_b FROM (
             |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |            len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
             |    FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id)
             |  WHERE jaccard >= 0.8),
             |edges AS (
             |  SELECT id_a AS u, id_b AS v FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
             |comp AS (
             |  SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u)
             |SELECT component, count(*) AS n_members FROM comp
             |GROUP BY component ORDER BY component""".stripMargin)),

    QueryDef("q81_bm25_search",
      (s, d) => {
        // BM25 retrieval (graft.operators.Bm25): score the corpus
        // against a 4-term query; the explode filters to query terms
        // before any shuffle, corpus stats ride a broadcast 1-row join.
        // Ordering uses the ROUNDED score + id so the top-k cut is
        // reproducible across engines.
        graft.operators.Bm25.topK(load(s, d, "documents"),
          "doc_id", "text", Seq("spark", "vector", "hash", "stream"), k = 20)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |l AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM l),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM (SELECT doc_id, unnest(ws) AS term FROM w)
             |       WHERE term IN ('spark', 'vector', 'hash', 'stream')
             |       GROUP BY doc_id, term),
             |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
             |sc AS (SELECT tf.doc_id,
             |         sum(ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
             |             tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / stats.avgdl))) AS s
             |       FROM tf JOIN dfq USING (term) JOIN l USING (doc_id) CROSS JOIN stats
             |       GROUP BY tf.doc_id)
             |SELECT doc_id, round(s, 3) AS score FROM sc
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    QueryDef("q83_canonical_selection",
      (s, d) => {
        // Pairs → components → KEEP THE BEST COPY: the full curation
        // dedup policy end to end. Reuses the q68 cluster pipeline, then
        // Dedup.canonicalPerCluster picks the highest-n_chars member
        // (ties to the smallest id) and reports per-cluster savings.
        val docs = load(s, d, "documents").filter(col("doc_id") < 200)
        val pairs = graft.operators.Dedup.ngramJaccardPairs(
          docs, "text", "doc_id",
          blockCol = floor(length(col("text")) / 100), threshold = 0.8, k = 3)
        val comps = graft.operators.ConnectedComponents
          .components(pairs, "id_a", "id_b")
        graft.operators.Dedup
          .canonicalPerCluster(docs, comps, "doc_id", col("n_chars"))
          .groupBy(col("component"))
          .agg(max(when(col("is_canonical"), col("id"))).as("kept_id"),
            (count(lit(1)) - 1).as("n_removed"),
            sum(when(!col("is_canonical"), col("quality")).otherwise(lit(0.0)))
              .cast("long").as("chars_removed"))
          .orderBy(col("component"))
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT doc_id, CAST(floor(length(text) / 100) AS BIGINT) AS blk,
             |    list_distinct([array_to_string(w[i:i+2], ' ')
             |      for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
             |        FROM documents WHERE doc_id < 200)),
             |pairs AS (
             |  SELECT id_a, id_b FROM (
             |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |            len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
             |    FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id)
             |  WHERE jaccard >= 0.8),
             |edges AS (
             |  SELECT id_a AS u, id_b AS v FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
             |comp AS (
             |  SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u),
             |j AS (SELECT c.id, c.component, d.n_chars
             |      FROM comp c JOIN documents d ON c.id = d.doc_id),
             |r AS (SELECT id, component, n_chars, row_number() OVER (
             |        PARTITION BY component ORDER BY n_chars DESC, id) AS rn
             |      FROM j)
             |SELECT component, max(CASE WHEN rn = 1 THEN id END) AS kept_id,
             |  count(*) - 1 AS n_removed,
             |  CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed
             |FROM r GROUP BY component ORDER BY component""".stripMargin)),

    QueryDef("q87_paragraph_dedup",
      (s, d) => {
        // CCNet/Dolma-style unit-level dedup + REWRITE
        // (graft.operators.ParagraphDedup): keep the globally first
        // occurrence of every unit, drop the rest, reassemble each doc.
        // The fixture's documents carry no newlines, so the gate units
        // are non-overlapping 16-word windows (the operator's
        // structureless-text mode); deployment web text uses
        // ParagraphDedup.paragraphs ("\n" units). Unit identity is
        // xxhash64 (the 100 TB shuffle key); the oracle groups raw unit
        // strings — identical output short of a 64-bit collision
        // (p ~ 1e-11 at gate scale; the q80/q99 precedent bound).
        val docs = load(s, d, "documents")
        graft.operators.ParagraphDedup.dedup(docs, "doc_id", "text",
          graft.operators.ParagraphDedup.unitsByWordWindow(_, 16), " ")
          .orderBy(col("doc_id"))
      },
      Some("""WITH parts AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |units AS (
             |  SELECT doc_id, i AS pos,
             |    array_to_string(w[(i*16+1):(i*16+16)], ' ') AS unit
             |  FROM parts, unnest(generate_series(0,
             |    CAST(ceil(len(w)/16.0) AS BIGINT) - 1)) AS t(i)),
             |marked AS (
             |  SELECT doc_id, pos, unit, row_number() OVER (
             |    PARTITION BY unit ORDER BY doc_id, pos) AS rn
             |  FROM units)
             |SELECT doc_id, count(*) AS n_units,
             |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dropped,
             |  coalesce(string_agg(CASE WHEN rn = 1 THEN unit END, ' '
             |    ORDER BY pos), '') AS clean_text
             |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("q88_trigram_entropy",
      (s, d) => {
        // Perplexity-proxy quality scoring (graft.operators.Perplexity):
        // per-doc character-trigram cross-entropy against the corpus's
        // own trigram LM, summarized per language. Two passes — build
        // (tri, cnt), score via a co-partitioned trigram join — the
        // CCNet LM-filter deployment shape with a deterministic model.
        val docs = load(s, d, "documents")
        graft.operators.Perplexity.selfScore(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("entropy")), 3).as("avg_entropy"),
            round(max(col("entropy")), 3).as("max_entropy"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (SELECT doc_id, substr(lower(text), CAST(i AS INT), 3) AS tri
             |           FROM (SELECT doc_id, text,
             |                   unnest(generate_series(1, length(text) - 2)) AS i
             |                 FROM documents WHERE length(text) >= 3)),
             |lm AS (SELECT tri, count(*) AS cnt FROM t GROUP BY tri),
             |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM lm),
             |sc AS (SELECT t.doc_id, count(*) AS n_tris,
             |         round(avg(-ln(lm.cnt / tot.total)), 3) AS entropy
             |       FROM t JOIN lm USING (tri) CROSS JOIN tot
             |       GROUP BY t.doc_id)
             |SELECT d.lang, count(*) AS n_docs,
             |  round(avg(sc.entropy), 3) AS avg_entropy,
             |  round(max(sc.entropy), 3) AS max_entropy
             |FROM sc JOIN documents d USING (doc_id)
             |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    QueryDef("q91_pagerank",
      (s, d) => {
        // Fixed-iteration PageRank (graft.operators.PageRank) over the
        // symmetric q46 near-dup graph — central docs in a near-dup
        // neighborhood are canonical-representative candidates. Three
        // rounds, damping 0.85; the oracle unrolls the identical three
        // iterations in SQL.
        val docs = load(s, d, "documents").filter(col("doc_id") < 200)
        val pairs = graft.operators.Dedup.ngramJaccardPairs(
          docs, "text", "doc_id",
          blockCol = floor(length(col("text")) / 100), threshold = 0.8, k = 3)
        val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        graft.operators.PageRank.ranks(edges, "u", "v", damping = 0.85, iters = 3)
          .select(col("u").as("doc_id"), round(col("pr"), 6).as("pr"))
          .orderBy(col("pr").desc, col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(floor(length(text) / 100) AS BIGINT) AS blk,
             |    list_distinct([array_to_string(w[i:i+2], ' ')
             |      for i in range(1, greatest(len(w)-2,0)+1)]) AS sh
             |  FROM (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
             |        FROM documents WHERE doc_id < 200)),
             |pairs AS (
             |  SELECT id_a, id_b FROM (
             |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |            len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
             |    FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id)
             |  WHERE jaccard >= 0.8),
             |e AS (SELECT id_a AS u, id_b AS v FROM pairs
             |      UNION ALL SELECT id_b, id_a FROM pairs),
             |deg AS (SELECT u, count(*) AS dg FROM e GROUP BY u),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
             |p0 AS (SELECT deg.u, 1.0 / nn.n AS pr FROM deg, nn),
             |p1 AS (SELECT e.v AS u, 0.15 / nn.n + 0.85 * sum(p0.pr / deg.dg) AS pr
             |       FROM e JOIN p0 ON e.u = p0.u JOIN deg ON e.u = deg.u, nn
             |       GROUP BY e.v, nn.n),
             |p2 AS (SELECT e.v AS u, 0.15 / nn.n + 0.85 * sum(p1.pr / deg.dg) AS pr
             |       FROM e JOIN p1 ON e.u = p1.u JOIN deg ON e.u = deg.u, nn
             |       GROUP BY e.v, nn.n),
             |p3 AS (SELECT e.v AS u, 0.15 / nn.n + 0.85 * sum(p2.pr / deg.dg) AS pr
             |       FROM e JOIN p2 ON e.u = p2.u JOIN deg ON e.u = deg.u, nn
             |       GROUP BY e.v, nn.n)
             |SELECT u AS doc_id, round(pr, 6) AS pr FROM p3
             |ORDER BY pr DESC, doc_id""".stripMargin)),

    QueryDef("q90_winnow_fingerprints",
      (s, d) => {
        // Robust winnowing (Schleimer et al. 2003, the MOSS selection):
        // md5 k-gram hashes, w-wide sliding window, keep each window's
        // min — ~2/(w+1) of the hashes stored with a guaranteed hit for
        // any match of length >= w+k-1. Summarized per language; md5
        // string ordering makes the selection engine-portable.
        val docs = load(s, d, "documents").filter(col("doc_id") < 200)
        graft.operators.Winnowing
          .fingerprints(docs, "doc_id", "text", k = 8, w = 4)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_prints"),
            countDistinct(col("print")).as("n_distinct_prints"))
          .orderBy(col("lang"))
      },
      Some("""WITH g AS (SELECT doc_id, i, md5(substr(text, CAST(i AS INT), 8)) AS h
             |           FROM (SELECT doc_id, text,
             |                   unnest(generate_series(1, length(text) - 7)) AS i
             |                 FROM documents WHERE doc_id < 200 AND length(text) >= 8)),
             |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
             |sel AS (SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i
             |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS print FROM g),
             |f AS (SELECT DISTINCT s.doc_id, s.print
             |      FROM sel s JOIN n USING (doc_id) WHERE s.i <= n.n - 3)
             |SELECT d.lang, count(*) AS n_prints,
             |  count(DISTINCT f.print) AS n_distinct_prints
             |FROM f JOIN documents d USING (doc_id)
             |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    QueryDef("q89_context_chunks",
      (s, d) => {
        // Context-window chunking (graft.operators.Chunking): 64-token
        // windows overlapping by 16, the RAG-ingest / long-doc shape.
        // Narrow explode, no shuffle until the summary; the oracle
        // recomputes the same start-position arithmetic and slicing.
        val docs = load(s, d, "documents")
        graft.operators.Chunking.chunk(docs, "doc_id", "text",
            maxTokens = 64, overlap = 16)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("chunk_tokens")).cast("long").as("sum_chunk_tokens"),
            max(col("chunk_idx")).as("max_chunk_idx"),
            sum(length(col("chunk_text"))).cast("long").as("sum_chunk_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
             |k AS (SELECT doc_id, lang, ws, unnest(generate_series(0,
             |        CASE WHEN len(ws) <= 64 THEN 0
             |             ELSE (len(ws) - 64 + 47) // 48 END)) AS k
             |      FROM w),
             |c AS (SELECT doc_id, lang, k AS chunk_idx,
             |        ws[k*48+1 : k*48+64] AS cw FROM k)
             |SELECT lang, count(*) AS n_chunks,
             |  CAST(sum(len(cw)) AS BIGINT) AS sum_chunk_tokens,
             |  max(chunk_idx) AS max_chunk_idx,
             |  CAST(sum(length(array_to_string(cw, ' '))) AS BIGINT) AS sum_chunk_chars
             |FROM c WHERE len(cw) > 0
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q77_vocab_topk",
      (s, d) => {
        // Global vocabulary top-k — the corpus-statistics pass behind BPE
        // training and frequency filtering, through the regime-switched
        // front door (HeavyHitters.vocabTopK). The expectedKeys hint
        // states what the caller knows — this corpus's vocabulary is
        // small — so the exact regime's plan is chosen without a probe
        // job: map-side-combined word groupBy (one shuffle of distinct
        // words, not token volume) + a driver-side k-row TopN. The same
        // call against a BPE-scale vocabulary (or with no hint and a
        // large HLL readout) switches to the Misra-Gries path (q93's
        // shape) with no caller change.
        val toks = load(s, d, "documents")
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
        graft.operators.HeavyHitters.vocabTopK(toks, "word", k = 50,
          expectedKeys = Some(100000L))
      },
      Some("""SELECT word, count(*) AS cnt
             |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
             |WHERE length(word) > 0
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin)),

    QueryDef("q93_heavy_hitters",
      (s, d) => {
        // Same vocabulary top-k as q77, computed by the 100 TB-vocabulary
        // path: per-partition Misra-Gries candidates (<= capacity rows
        // leave each partition — never one row per distinct key) + exact
        // recount of candidates only. Exact, not approximate, whenever
        // every true top-k key clears the N/(capacity+1) frequency bound
        // (trivially true here; the eviction path is exercised by
        // HeavyHittersSpec's planted long-tail fixture). Oracle: the
        // plain exact SQL top-k — identical output by construction.
        val toks = load(s, d, "documents")
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
        graft.operators.HeavyHitters.topK(toks, "word", k = 50,
          capacity = 4096)
      },
      Some("""SELECT word, count(*) AS cnt
             |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
             |WHERE length(word) > 0
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin)),

    QueryDef("q94_heavy_hitters_per_lang",
      (s, d) => {
        // Per-group heavy hitters: top-10 vocabulary PER LANGUAGE via one
        // MG summary per (partition, group) + exact recount + windowed
        // Top-N over recounted candidates only. The per-group shape is
        // the curation reality (per-language vocab, per-domain hot URLs)
        // and is skew-safe: a dominant language costs one summary per
        // partition like any other group.
        val toks = load(s, d, "documents")
          .select(col("lang"),
            explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
        graft.operators.HeavyHitters.topKPerGroup(toks, "lang", "word",
          k = 10, capacity = 4096)
      },
      Some("""WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS word
             |          FROM documents),
             |c AS (SELECT lang, word, count(*) AS cnt FROM t
             |      WHERE length(word) > 0 GROUP BY lang, word),
             |r AS (SELECT lang, word, cnt,
             |        row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rn
             |      FROM c)
             |SELECT lang, word, cnt FROM r WHERE rn <= 10
             |ORDER BY lang, cnt DESC, word""".stripMargin)),

    QueryDef("q80_dup_ngram_spans",
      (s, d) => {
        // Exact-substring duplication census (Lee et al. 2022 shape):
        // stride-4-sampled char 16-grams; a position is "duplicated" if
        // its gram occurs in >= 2 distinct docs. Summarized per language
        // so the gate result is small; per-doc dup_frac is the library
        // API (SubstringDup.dupSpanStats).
        val docs = load(s, d, "documents")
        // hashGrams: the shuffle key is xxhash64(gram) — the 100 TB
        // deployment shape (8-byte fixed keys instead of 16-char
        // strings; ~3× less exchange volume). The OUTPUT is identical
        // to raw-gram keying unless two distinct grams collide in 64
        // bits (p ≈ n²/2⁶⁵; ~4e-8 at the sf0.01 oracle gate), so the
        // DuckDB oracle — which groups raw grams — still hash-matches.
        graft.operators.SubstringDup
          .dupSpanStats(docs, "doc_id", "text", n = 16, stride = 4,
            hashGrams = true)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_dup")).cast("long").as("total_dup"),
            round(avg(col("dup_frac")), 4).as("avg_dup_frac"))
          .orderBy(col("lang"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id, substr(text, CAST(i AS INT), 16) AS gram
             |  FROM (SELECT doc_id, text,
             |          unnest(generate_series(1, length(text) - 15, 4)) AS i
             |        FROM documents WHERE length(text) >= 16)),
             |shared AS (
             |  SELECT gram FROM (
             |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
             |  WHERE nd >= 2),
             |per_doc AS (
             |  SELECT g.doc_id, count(*) AS n_grams,
             |    sum(CASE WHEN s.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
             |  FROM g LEFT JOIN shared s ON g.gram = s.gram
             |  GROUP BY g.doc_id)
             |SELECT d.lang, count(*) AS n_docs,
             |  CAST(sum(p.n_dup) AS BIGINT) AS total_dup,
             |  round(avg(round(CAST(p.n_dup AS DOUBLE) / p.n_grams, 4)), 4) AS avg_dup_frac
             |FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
             |GROUP BY d.lang ORDER BY d.lang""".stripMargin))
  )
}
