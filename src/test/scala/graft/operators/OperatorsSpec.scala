package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

class OperatorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.spark
  import spark.implicits._

  // planted corpus: 0/1 near-dups, 2/3 exact dups, rest distinct
  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
    (2L, "completely different content about spark and distributed query engines"),
    (3L, "completely different content about spark and distributed query engines"),
    (4L, "unrelated text regarding machine learning data pipelines at scale"),
    (5L, "short doc"))
    .toDF("doc_id", "text")

  test("gram-hash kernel is value-identical to xxhash64(substring) — incl. multi-byte UTF-8") {
    // GramHashesExpr's whole claim: element k == xxhash64(substring(s, 1+k*stride, n)).
    // Cover ASCII, 2- and 3-byte UTF-8 chars (char-boundary slicing, not
    // byte windows), a string of exactly n chars, one shorter than n,
    // and empty.
    val rows = Seq("the quick brown fox jumps over it",
      "héllo wörld — ünïcode tëxt with àccents répeated héllo wörld",
      "日本語のテキストとmixed ascii 内容が混在する文書です",
      "exactly16charss!", "shorter", "").toDF("text")
    for ((n, stride) <- Seq((16, 4), (5, 1), (7, 3))) {
      val got = rows.select(
        graft.functions.GramHash.gramHashes(col("text"), n, stride).as("fast"),
        expr(s"CASE WHEN length(text) >= $n THEN " +
          s"transform(sequence(1, length(text) - ${n - 1}, $stride)," +
          s" i -> xxhash64(substring(text, i, $n))) " +
          s"ELSE CAST(array() AS array<bigint>) END").as("ref"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"n=$n stride=$stride: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
      }
    }
  }

  test("gram-hash-counts kernel = gramHashes collapsed to distinct (gram, count)") {
    // GramHashCountsExpr's claim: the pair set equals the position-hash
    // multiset grouped by value — same sampled positions, map-side
    // collapsed. Cover repetitive text (the case the collapse exists
    // for), multi-byte UTF-8, exact-n, shorter-than-n, and empty.
    val rows = Seq(
      "abcdabcdabcdabcdabcdabcdabcdabcdabcdabcd", // period-4 text: few distinct grams, many positions
      "the quick brown fox jumps over the lazy dog near the river bank",
      "héllo wörld — ünïcode tëxt with àccents répeated héllo wörld",
      "exactly16charss!", "shorter", "").toDF("text")
    for ((n, stride) <- Seq((16, 4), (16, 1), (5, 1))) {
      rows.select(
        graft.functions.GramHash.gramHashCounts(col("text"), n, stride).as("pairs"),
        graft.functions.GramHash.gramHashes(col("text"), n, stride).as("flat"))
        .collect().foreach { r =>
          val pairs = r.getSeq[org.apache.spark.sql.Row](0)
            .map(p => p.getLong(0) -> p.getLong(1)).toMap
          val ref = r.getSeq[Long](1).groupBy(identity).map { case (h, v) => h -> v.size.toLong }
          assert(pairs == ref, s"n=$n stride=$stride: $pairs vs $ref")
          // distinctness: one pair per gram value
          assert(pairs.size == r.getSeq[org.apache.spark.sql.Row](0).size)
        }
    }
  }

  test("gram-hash-counts collapses a fully repetitive doc to O(distinct) pairs") {
    // docs-bounded shuffle guarantee: a doc that is one 16-char gram
    // repeated 1000× (stride 1 → 15985 sampled positions) must ship at
    // most 16 pairs (the 16 rotations), not 15985 rows
    val doc = "BOILERPLATE-GRAM" * 1000
    val pairs = Seq(doc).toDF("text")
      .select(explode(graft.functions.GramHash.gramHashCounts(col("text"), 16, 1)).as("g"))
      .select($"g.gram", $"g.cnt").collect()
    assert(pairs.length == 16, s"expected 16 distinct rotations, got ${pairs.length}")
    assert(pairs.map(_.getLong(1)).sum == (doc.length - 15).toLong)
  }

  test("term-hits kernel = split/explode reference (dl and per-term tf)") {
    // TermHitsExpr's claim: dl == size(split(s, " ")) — empty segments
    // from doubled/leading/trailing spaces included — and tfs(i) == the
    // count of tokens byte-equal to terms(i). Cover repeated terms,
    // adjacent spaces, trailing space, multi-byte UTF-8 neighbors, a
    // term that appears only as a substring (must NOT count), and empty.
    val terms = Seq("spark", "vector", "hash", "ünïcode")
    val rows = Seq(
      "spark vector spark hash spark",
      "  leading and trailing  ",
      "hashmap is not hash but hash is",          // substring must not match
      "ünïcode tëxt ünïcode",
      "no query terms at all here",
      "spark",
      "").toDF("text")
    val got = rows.select(
      graft.functions.TermHits.termHits(col("text"), terms).as("h"),
      size(split(col("text"), " ")).as("dl_ref"),
      expr(s"transform(array(${terms.map("'" + _ + "'").mkString(",")})," +
        " t -> size(filter(split(text, ' '), w -> w = t)))").as("tfs_ref"))
      .collect()
    got.foreach { r =>
      val h = r.getStruct(0)
      assert(h.getInt(0) == r.getInt(1), s"dl: ${h.getInt(0)} vs ${r.getInt(1)}")
      assert(h.getSeq[Int](1) == r.getSeq[Int](2),
        s"tfs: ${h.getSeq[Int](1)} vs ${r.getSeq[Int](2)}")
    }
  }

  test("bm25 top-k matches the relational split/explode pipeline") {
    // End-to-end parity of the kernel plan against the textbook
    // relational decomposition computed inline (same idf variant, same
    // rounding) — the cross-engine gate is q81, this pins Spark-vs-Spark.
    val corpus = docs.union(Seq(
      (6L, "spark spark spark vector"),
      (7L, "vector hash vector hash stream stream")).toDF("doc_id", "text"))
    val terms = Seq("spark", "vector", "hash", "stream")
    val got = Bm25.topK(corpus, "doc_id", "text", terms, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val w = corpus.select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
    val l = w.select(col("doc_id"), size(col("ws")).cast("double").as("dl"))
    val st = l.agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    val tf = w.select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val ref = tf.join(dfq, "term").join(l, "doc_id").crossJoin(st)
      .withColumn("s", log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
        col("tf") * lit(2.2) / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("s"), 3).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == ref.toSeq, s"${got.toSeq} vs ${ref.toSeq}")
  }

  test("exact dedup keeps lowest id per content hash") {
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 4L, 5L)) // 3 dropped (dup of 2)
    val groups = Dedup.exactGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("keeper") == 2L)
  }

  test("exact dedup keeps NULL-text rows (null-safe hash join)") {
    val withNulls = docs.union(Seq((6L, null.asInstanceOf[String]),
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val kept = Dedup.exact(withNulls, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // NULL-text rows form one group; keeper 6 stays, 7 drops
    assert(kept.contains(6L) && !kept.contains(7L), kept.toString)
  }

  test("sorted_jaccard64 kernel ≡ the UDF reference on random sorted-distinct arrays, incl. null/empty/identical/disjoint") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def arr(): Array[Long] =
      Array.fill(rnd.nextInt(40))(rnd.nextInt(200).toLong * 7919L)
        .distinct.sorted
    val rows: Seq[(Long, Array[Long], Array[Long])] =
      (1L to 60L).map { k =>
        val a = arr()
        val b = if (k % 5 == 0) a else arr() // every 5th pair identical
        (k, a, b)
      } ++ Seq(
        (100L, Array.empty[Long], arr()),       // empty side
        (101L, null, arr()),                    // null side
        (102L, Array(1L, 2L), Array(5L, 9L)))   // disjoint
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      graft.functions.JaccardExpressions.sortedJaccard(col("a"), col("b")).as("j"))
    // contract: never null — null/empty input folds to 0.0
    assert(!got.schema("j").nullable)
    val kernel = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = df.select(col("id"),
        KernelReferences.sortedJaccardUdf(col("a"), col("b")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kernel == ref, (kernel.toSet diff ref.toSet).toString)
    assert(kernel(100L) == 0.0 && kernel(101L) == 0.0 && kernel(102L) == 0.0)
    assert((1L to 60L).filter(_ % 5 == 0).forall(kernel(_) == 1.0))
  }

  test("sorted_jaccard64 machine-checks the non-null-elements precondition; internal producers compile the guard away") {
    import spark.implicits._
    // a hand-built producer whose schema ADMITS null elements and
    // delivers one: the kernel must fail with its named error, never
    // read the null as 0 (a silently wrong jaccard)
    val bad = Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 3L)))
      .toDF("a", "b")
    assert(bad.schema("a").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val e = intercept[Throwable] {
      bad.select(graft.functions.JaccardExpressions
        .sortedJaccard(col("a"), col("b"))).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("sorted_jaccard64") && msgs.contains("null element"), msgs)
    // null-FREE rows under the same permissive schema still evaluate
    val ok = Seq((Seq[java.lang.Long](1L, 3L), Seq[java.lang.Long](1L, 3L)))
      .toDF("a", "b")
      .select(graft.functions.JaccardExpressions
        .sortedJaccard(col("a"), col("b")).as("j"))
      .head().getDouble(0)
    assert(ok == 1.0)
    // the shingle producer PROVES elements non-null in its schema, so the
    // hot paths carry no guard at all
    val sch = docs.select(Dedup.shingleHashes64Udf(3)(col("text")).as("sh"))
      .schema("sh").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(!sch.containsNull, sch.toString)
  }

  test("exactGroupsFingerprint = exactGroups' (keeper, n_copies); the scan never reads text") {
    import spark.implicits._
    def groupsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("keeper"), col("n_copies")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Groups = groupsOf(Dedup.exactGroups(docs, "text", "doc_id"))
    assert(md5Groups == Set((2L, 2L)), md5Groups.toString) // planted 2/3 dup
    val withFp = docs.withColumn("xh", xxhash64(col("text")))
    assert(groupsOf(Dedup.exactGroupsFingerprint(withFp, "doc_id", "xh")) ==
      md5Groups)
    // the deployment claim: on the hash-at-ingest layout the dup-group
    // scan reads (fingerprint, id) ONLY — text is pruned at the parquet
    // reader, so the query's IO is ~0.2% of the audit view's
    val dir = java.nio.file.Files.createTempDirectory("fp_layout").toString
    withFp.write.mode("overwrite").parquet(dir)
    val q = Dedup.exactGroupsFingerprint(spark.read.parquet(dir), "doc_id", "xh")
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("ReadSchema"))
    assert(scan.isDefined, q.queryExecution.executedPlan.toString.take(1200))
    assert(!scan.get.replaceAll("Location.*", "").contains("text"),
      s"text column not pruned from the fingerprint scan: ${scan.get.take(600)}")
    assert(groupsOf(q) == md5Groups)
  }

  test("minhash LSH finds planted near-dup and survives verification") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id", threshold = 0.5,
      numPerm = 128, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"missing planted near-dup: $pairs")
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val kept = Dedup.minhashLshDedup(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 4L, 5L))
  }

  test("cross-corpus minhash dedup: new batch pruned against reference, reference untouched") {
    // new batch {1, 3, 5} vs reference {0, 2, 4}: doc 1 is a near-dup of
    // ref doc 0, doc 3 an exact dup of ref doc 2, doc 5 unrelated. The
    // within-batch and within-reference relationships must NOT surface —
    // only cross pairs count.
    val newBatch = docs.filter(col("doc_id") % 2 === 1)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val pairs = Dedup.minhashLshAgainstPairs(newBatch, ref, "text", "doc_id",
      threshold = 0.7, numPerm = 128, bands = 16, shingleK = 3)
      .select(col("id"), col("ref_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 0L), (3L, 2L)), s"pairs $pairs")
    val kept = Dedup.dedupAgainst(newBatch, ref, "text", "doc_id",
      threshold = 0.7).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L), s"kept $kept")
  }

  test("persisted LSH index reproduces direct cross-corpus pairs; lake side reads the index, not the signature UDF") {
    val newBatch = docs.filter(col("doc_id") % 2 === 1)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_idx_spec").toString
    Dedup.lshBuild(ref, "text", "doc_id", idx, numPerm = 128, bands = 16,
      shingleK = 3)
    val direct = Dedup.minhashLshAgainstPairs(newBatch, ref, "text", "doc_id",
      threshold = 0.7, numPerm = 128, bands = 16, shingleK = 3)
    val viaIdx = Dedup.minhashLshIndexPairs(newBatch, idx, "text", "doc_id",
      threshold = 0.7)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("ref_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(viaIdx) == Set((1L, 0L), (3L, 2L)), s"via index: ${pairsOf(viaIdx)}")
    assert(pairsOf(viaIdx) == pairsOf(direct))
    // the deployment claim, pinned in the plan: the DIRECT path signs
    // both corpora (2 signature + 2 shingle-hash UDF evaluations); the
    // index path signs the BATCH only — the lake side is parquet scans
    // of the persisted band rows and verify hashes.
    def countIn(s: String, needle: String): Int = needle.r.findAllIn(s).length
    val directPlan = direct.queryExecution.optimizedPlan.toString
    val idxPlan = viaIdx.queryExecution.optimizedPlan.toString
    assert(countIn(directPlan, "minhash_sig") == 2, directPlan.take(1500))
    assert(countIn(idxPlan, "minhash_sig") == 1, idxPlan.take(1500))
    assert(countIn(idxPlan, "shingle_hashes64") == 1, idxPlan.take(1500))
    assert(viaIdx.queryExecution.executedPlan.toString.contains("graft_lsh_idx_spec"),
      "index files not in the scan")
    // forced sort-merge regime (huge-batch path) agrees with broadcast
    val merged = Dedup.minhashLshIndexPairs(newBatch, idx, "text", "doc_id",
      threshold = 0.7, broadcastMaxBandRows = 0L)
    assert(pairsOf(merged) == pairsOf(direct))
    // and the ingestion gate through the index keeps only the novel doc
    val keptIdx = Dedup.dedupAgainstIndex(newBatch, idx, "text", "doc_id",
      threshold = 0.7).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptIdx == Set(5L), s"kept $keptIdx")
  }

  test("lshAppend: build(lake) then append(b1) answers a b2 query identically to build(lake ∪ b1), pair-for-pair") {
    import spark.implicits._
    val lake = docs.filter(col("doc_id").isin(0L, 2L))
    val b1 = docs.filter(col("doc_id") === 4L) // accepted batch enters the lake
    // day-2 batch: near-dups of lake docs 0 and 2 AND of the APPENDED
    // doc 4 (doc 6 copies its text) — the appended doc must participate
    val b2 = docs.filter(col("doc_id").isin(1L, 3L)).union(
      Seq((6L, "unrelated text regarding machine learning data pipelines at scale"))
        .toDF("doc_id", "text"))
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incr = java.nio.file.Files.createTempDirectory("graft_lsh_incr").toString
    Dedup.lshBuild(lake, "text", "doc_id", incr, numPerm = 128, bands = 16,
      shingleK = 3)
    Dedup.lshAppend(b1, "text", "doc_id", incr)
    val full = java.nio.file.Files.createTempDirectory("graft_lsh_full").toString
    Dedup.lshBuild(lake.union(b1), "text", "doc_id", full, numPerm = 128,
      bands = 16, shingleK = 3)
    val viaIncr = triples(Dedup.minhashLshIndexPairs(b2, incr, "text",
      "doc_id", threshold = 0.7))
    val viaFull = triples(Dedup.minhashLshIndexPairs(b2, full, "text",
      "doc_id", threshold = 0.7))
    assert(viaIncr == viaFull, s"incr $viaIncr vs full $viaFull")
    assert(viaIncr.map(t => (t._1, t._2)) == Set((1L, 0L), (3L, 2L), (6L, 4L)),
      viaIncr.toString)
    assert(viaIncr.find(_._1 == 6L).get._3 == 1.0) // byte-identical append hit
    // parameters unchanged, the committed doc count covers the append
    val meta = spark.read.parquet(s"$incr/meta").head()
    assert(Dedup.lshIndexCommittedDocs(spark, incr) == 3L && meta.getAs[Int]("num_perm") == 128)
    // the ingestion gate against the maintained index keeps only novelty
    val kept = Dedup.dedupAgainstIndex(b2, incr, "text", "doc_id",
      threshold = 0.7).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept.isEmpty, s"kept $kept") // every b2 doc matches the lake now
  }

  test("bucketed index (bandBuckets): huge-batch sort-merge regime has NO exchange on the lake side; append preserves layout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val lake = docs.filter(col("doc_id") % 2 === 0) // {0, 2, 4}
    val batch = docs.filter(col("doc_id") % 2 === 1) // {1, 3, 5}
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_bkt")
    val idx = dir.toString
    Dedup.lshBuild(lake, "text", "doc_id", idx, numPerm = 128, bands = 16,
      shingleK = 3, bandBuckets = 4)
    // forced sort-merge (broadcast gate 0) = the standing huge-batch plan
    val q = Dedup.minhashLshIndexPairs(batch, idx, "text", "doc_id",
      threshold = 0.7, broadcastMaxBandRows = 0L)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("ref_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(q) == Set((1L, 0L), (3L, 2L)), pairsOf(q).toString)
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bandJoins = plan.collect {
      case j: SortMergeJoinExec
        if j.leftKeys.map(_.toString).exists(_.contains("band")) => j
    }
    assert(bandJoins.nonEmpty, plan.toString.take(1500))
    bandJoins.foreach { j =>
      val lakeSide = Seq(j.left, j.right)
        .find(_.toString.contains(dir.getFileName.toString))
      assert(lakeSide.nonEmpty, "bucketed index scan not under the band join:\n" +
        plan.toString.take(1500))
      val exchanges = lakeSide.get.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty, "lake side of the band join shuffled despite " +
        "bucketed layout:\n" + lakeSide.get.toString.take(1500))
    }
    // append keeps the bucketed layout live: new docs land in the right
    // buckets and the meta still carries the bucket count
    Dedup.lshAppend(
      Seq((6L, "unrelated text regarding machine learning data pipelines at scale"))
        .toDF("doc_id", "text"), "text", "doc_id", idx)
    val meta = spark.read.parquet(s"$idx/meta").head()
    assert(meta.getAs[Int]("band_buckets") == 4 && Dedup.lshIndexCommittedDocs(spark, idx) == 4L)
    val b2 = Seq((7L, "unrelated text regarding machine learning data pipelines at scale"))
      .toDF("doc_id", "text")
    val got = pairsOf(Dedup.minhashLshIndexPairs(b2, idx, "text", "doc_id",
      threshold = 0.7, broadcastMaxBandRows = 0L))
    assert(got == Set((7L, 4L), (7L, 6L)), got.toString)
    // layout-cost pin: the pre-write repartition on the bucket columns
    // means each write lands AT MOST one file per bucket (build + one
    // append ⇒ ≤ 2×nb band files), not tasks × buckets
    val bandFiles = Option(new java.io.File(idx, "bands").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(bandFiles > 0 && bandFiles <= 8, s"band files: $bandFiles")
    // REBUILD over the existing (appended) bucketed index must succeed —
    // the bucketed CTAS branch clears the band dir first (CTAS itself
    // refuses a non-empty location) — and reset the index to the lake
    Dedup.lshBuild(lake, "text", "doc_id", idx, numPerm = 128, bands = 16,
      shingleK = 3, bandBuckets = 4)
    val meta2 = spark.read.parquet(s"$idx/meta").head()
    assert(meta2.getAs[Long]("n_docs") == 3L &&
      meta2.getAs[Int]("band_buckets") == 4)
    assert(pairsOf(Dedup.minhashLshIndexPairs(batch, idx, "text", "doc_id",
      threshold = 0.7, broadcastMaxBandRows = 0L)) == Set((1L, 0L), (3L, 2L)))
  }

  test("vector kernels surface dimension mismatch as null — exactly the HOF zip_with contract, never a prefix cosine") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0, 2.0), Array(1.0, 2.0, 3.0)), // mismatched dims
      (1L, Array(1.0, 2.0), Array(2.0, 4.0)))      // matched
      .toDF("rid", "a", "b")
    // the documented reference spelling: zip_with pads the shorter side
    // with nulls, which the aggregate sum swallows to null
    val hofDot = "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    val ref = df.select(col("rid"), expr(
      s"$hofDot / (sqrt(aggregate(transform(a, x -> x * x), 0D, (s, v) -> s + v)) * " +
        "sqrt(aggregate(transform(b, x -> x * x), 0D, (s, v) -> s + v)))").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    def check(): Unit = {
      val got = df.select(col("rid"),
        graft.functions.VectorExpressions.cosineSim(col("a"), col("b")).as("c"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(got(0L).isEmpty, s"mismatch must be null, got ${got(0L)}")
      assert(got == ref, s"got $got vs HOF $ref")
    }
    check() // codegen path
    val ws = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      check() // interpreted path (nullSafeEval)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // two NON-NULLABLE inputs (literals): the expression must still be
    // allowed to produce null (nullable override) — a mismatch between
    // two literals returns null instead of mis-compiling or NPE-ing
    val lits = spark.range(1).select(
      graft.functions.VectorExpressions.cosineSim(
        typedLit(Array(1.0, 2.0)), typedLit(Array(1.0, 2.0, 3.0))).as("c"),
      graft.functions.VectorExpressions.cosineSim(
        typedLit(Array(1.0, 0.0)), typedLit(Array(1.0, 0.0))).as("ok"))
      .collect().head
    assert(lits.isNullAt(0) && lits.getDouble(1) == 1.0, lits.toString)

    // argmax: mixed-length CENTROIDS fail fast at construction…
    intercept[IllegalArgumentException] {
      graft.functions.VectorExpressions.argmaxCosine(col("a"),
        Array((0L, Array(1.0)), (1L, Array(1.0, 0.0))))
    }
    // …and a mismatched INPUT resolves like the all-cosines-null edge:
    // smallest cid, null cent_sim (q78/q95's chain semantics)
    val cents: Array[(Long, Array[Double])] =
      Array((3L, Array(1.0, 0.0)), (5L, Array(0.0, 1.0)))
    val rows = Seq((0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val assigned = KMeans.assignWithSim(rows, "embedding", cents)
      .select(col("vec_id"), col("cluster"), col("cent_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    assert(assigned(0) == ((0L, 3L, None)), assigned.mkString(", "))
    assert(assigned(1) == ((1L, 3L, Some(1.0))), assigned.mkString(", "))
  }

  test("exactGroups prefiltered shape (gateBytes=0) equals the ungated shape, incl. NULL text") {
    // the sf0.01 oracle corpus sits below the default 32 MB gate, so the
    // prefilter branch is forced here (gateBytes = 0) and held to the
    // ungated output on a fixture with a planted dup group, singletons,
    // and a NULL-text pair (xxhash64(NULL) = seed for every NULL row —
    // the NULL group must collide with itself and survive, exactly like
    // the md5-only path groups it).
    val withNulls = docs.union(Seq((6L, null.asInstanceOf[String]),
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    def groupsOf(gate: Long) =
      Dedup.exactGroups(withNulls, "text", "doc_id", gateBytes = gate)
        .collect()
        .map(r => (r.getAs[String]("content_hash"), r.getAs[Long]("keeper"),
          r.getAs[Long]("n_copies"))).toSet
    val ungated = groupsOf(Long.MaxValue)
    val gated = groupsOf(0L)
    assert(gated == ungated, s"gated $gated vs ungated $ungated")
    assert(gated.exists { case (_, keeper, n) => keeper == 2L && n == 2L })
    assert(gated.exists { case (h, keeper, n) => h == null && keeper == 6L && n == 2L })
    // both prefilter regimes keep the same survivors: the collect+
    // broadcast path (count fits the cap) and the overflow fallback to
    // the unhinted shuffled semi (cap forced to 0)
    def survivors(cap: Int) =
      Dedup.collidingTextPrefilter(withNulls, "text", gateBytes = 0L,
          broadcastMaxCollidingGroups = cap)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(survivors(1000000) == Set(2L, 3L, 6L, 7L), survivors(1000000).toString)
    assert(survivors(0) == survivors(1000000))
  }

  test("exactGroups over a stored fingerprint hashCol equals exactGroups, incl. NULL text and both broadcast regimes") {
    import spark.implicits._
    val withNulls = docs.union(Seq((6L, null.asInstanceOf[String]),
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // the lake layout: fingerprint stored next to the text at ingest —
    // materialized to parquet so the query plans see a STORED column,
    // not an in-flight projection
    val tmp = java.nio.file.Files.createTempDirectory("graft_prehash").toString
    withNulls.withColumn("xh", xxhash64(col("text")))
      .write.mode("overwrite").parquet(tmp)
    val stored = spark.read.parquet(tmp)
    def groupsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("content_hash"),
        r.getAs[Long]("keeper"), r.getAs[Long]("n_copies"))).toSet
    val want = groupsOf(Dedup.exactGroups(withNulls, "text", "doc_id",
      gateBytes = 0L))
    val got = groupsOf(Dedup.exactGroups(stored, "text", "doc_id",
      gateBytes = 0L, hashCol = Some("xh")))
    assert(got == want, s"prehashed $got vs computed $want")
    assert(got.exists { case (_, keeper, n) => keeper == 2L && n == 2L })
    assert(got.exists { case (h, keeper, n) => h == null && keeper == 6L && n == 2L })
    // overflow regime (cap 0 forces the unhinted shuffled semi) agrees
    val overflow = groupsOf(Dedup.exactGroups(stored, "text", "doc_id",
      gateBytes = 0L, broadcastMaxCollidingGroups = 0, hashCol = Some("xh")))
    assert(overflow == want, s"overflow $overflow vs $want")
    // the layout's whole point, pinned: no xxhash64 anywhere in the plan
    // (the probe groups on the STORED column)
    val plan = Dedup.exactGroups(stored, "text", "doc_id", gateBytes = 0L,
      hashCol = Some("xh")).queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("xxhash64"), plan.take(1200))
  }

  test("argmaxCosine fused kernel replicates the greatest(struct) chain bit-for-bit") {
    import spark.implicits._
    // centroid 2 duplicates centroid 0 → every similarity tie must keep
    // the smaller cid; the zero vector's sims are all NaN → smallest cid
    // with NaN cent_sim (the SemDeDup nanvl guard's contract); (0.5,0.5)
    // ties 0-vs-1 exactly → cid 0.
    val cents: Array[(Long, Array[Double])] = Array(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (2L, Array(1.0, 0.0)))
    val rows = Seq(
      (0L, Array(0.9f, 0.1f)), (1L, Array(0.1f, 0.9f)),
      (2L, Array(0.0f, 0.0f)), (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = KMeans.assignWithSim(rows, "embedding", cents)
      .select(col("vec_id"), col("cluster"), col("cent_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // the replaced spelling, computed inline as the reference
    val v = col("embedding").cast("array<double>")
    val chain = cents.map { case (cid, c) =>
      struct(graft.functions.VectorExpressions.cosineSim(v, typedLit(c)).as("sim"),
        lit(-cid).as("neg_cid"))
    }.reduce((a, b) => greatest(a, b))
    val ref = rows.withColumn("_b", chain)
      .select(col("vec_id"), (-col("_b").getField("neg_cid")).as("cluster"),
        col("_b").getField("sim").as("cent_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    def eq(a: Double, b: Double) = (a.isNaN && b.isNaN) || a == b
    assert(got.length == ref.length)
    got.zip(ref).foreach { case ((ig, cg, sg), (ir, cr, sr)) =>
      assert(ig == ir && cg == cr && eq(sg, sr), s"got $got\nref $ref")
    }
    assert(got.map(g => (g._1, g._2)).toSeq ==
      Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 0L)))
    assert(got(2)._3.isNaN, "zero-norm row must carry NaN cent_sim")
  }

  test("argmaxCosine norm hoist (r20) is bit-identical to the unhoisted rounds-14..19 kernel") {
    import spark.implicits._
    // adversarial set: ties (duplicate centroid), zero vector (NaN sims),
    // anti-parallel, random fill — plus a dimension-mismatch row, which
    // must resolve to (smallest cid, null) on both shapes
    val rnd = new scala.util.Random(42)
    val dim = 16
    val cents: Array[(Long, Array[Double])] =
      Array.tabulate(8)(c => (c.toLong, Array.fill(dim)(rnd.nextGaussian()))) :+
        (8L, Array.fill(dim)(0.25)) :+ (9L, Array.fill(dim)(0.25))
    val vecs: Seq[Array[Double]] =
      Seq(Array.fill(dim)(0.0), Array.fill(dim)(0.25),
        Array.fill(dim)(-0.25)) ++
        Seq.tabulate(40)(_ => Array.fill(dim)(rnd.nextGaussian()))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v")
    val sorted = cents.sortBy(_._1)
    def run(c: org.apache.spark.sql.Column) =
      df.select(col("vec_id"), c.getField("cluster").as("cl"),
          c.getField("cent_sim").as("cs"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
        .sortBy(_._1).toSeq
    val hoisted = run(graft.functions.VectorExpressions.argmaxCosine(col("v"), cents))
    val unhoisted = run(org.apache.spark.sql.GraftColumnShim.column(
      graft.ArgmaxCosineUnhoistedExpr(
        org.apache.spark.sql.GraftColumnShim.expression(col("v")),
        sorted.map(_._1), sorted.map(_._2))))
    assert(hoisted == unhoisted,
      s"hoisted vs unhoisted diverged:\n$hoisted\n$unhoisted")
    // dimension mismatch: both yield (cids(0), null)
    val bad = Seq((0L, Array.fill(dim + 1)(1.0))).toDF("vec_id", "v")
    def runBad(c: org.apache.spark.sql.Column) =
      bad.select(c.getField("cluster"), c.getField("cent_sim")).collect().map(
        r => (r.getLong(0), r.isNullAt(1))).toSeq
    assert(runBad(graft.functions.VectorExpressions.argmaxCosine(col("v"), cents)) ==
      Seq((0L, true)))
    assert(runBad(org.apache.spark.sql.GraftColumnShim.column(
      graft.ArgmaxCosineUnhoistedExpr(
        org.apache.spark.sql.GraftColumnShim.expression(col("v")),
        sorted.map(_._1), sorted.map(_._2)))) == Seq((0L, true)))
  }

  test("semdedup seeded-sample init is deterministic and honors the keep-rule") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.999f, 0.02f)),
      (3L, Array(0.02f, 0.999f)),
      (4L, Array(0.7f, 0.75f))).toDF("vec_id", "embedding")
    def run() = SemDeDup.semDedup(emb, "embedding", "vec_id", k = 2,
      tau = 0.99, initSeed = Some(7L))
      .select(col("vec_id")).as[Long].collect().toSet
    val a = run()
    assert(a == run(), "seeded init not reproducible")
    // whatever the seed picked, the keep-rule contract must hold: verify
    // against the brute-force shadow rule computed from the same init
    val cents = KMeans.initCentroids(emb, "embedding", "vec_id", 2, Some(7L))
    val assigned = KMeans.assignWithSim(emb, "embedding", cents)
      .select(col("vec_id"), col("cluster"), col("cent_sim"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getSeq[Double](3).toArray))
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      dot / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val expected = assigned.filter { case (id, cl, cs, v) =>
      !assigned.exists { case (yid, ycl, ycs, yv) =>
        ycl == cl && (ycs < cs || (ycs == cs && yid < id)) && cos(v, yv) >= 0.99
      }
    }.map(_._1).toSet
    assert(a == expected, s"kept $a expected $expected")
  }

  test("simhash pairs finds exact and near duplicates within distance") {
    val pairs3 = Dedup.simhashPairs(docs, "text", "doc_id", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    val exactPair = pairs3.find(p => p._1 == 2L && p._2 == 3L)
    assert(exactPair.exists(_._3 == 0L)) // identical text -> distance 0

    // pigeonhole exactness: whatever the true distance of the planted
    // near-dup pair, banding at that radius must surface it
    val sigs = docs.filter(col("doc_id") < 2)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trueDist = java.lang.Long.bitCount(sigs(0L) ^ sigs(1L))
    assert(trueDist < 32, s"near-dup unexpectedly far: $trueDist")
    val pairsAt = Dedup.simhashPairs(docs, "text", "doc_id", maxDistance = trueDist)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairsAt.contains((0L, 1L)), s"dist=$trueDist pairs=${pairsAt.mkString(",")}")
  }

  test("simhash wide-piece banding agrees with narrow on planted 16-bit-piece collisions") {
    // Adversarial corpus for the 4×16-bit regime: signatures are driven by
    // word content; what matters is that BOTH decompositions (4 pieces of
    // 16 bits; C(6,3)=20 combination bands) return the identical pair set
    // on a corpus with planted near/exact dups plus noise docs.
    val corpus = docs.union(
      (10L to 40L).map(i => (i, s"noise document number $i with filler words " +
        s"alpha${i % 7} beta${i % 5} gamma${i % 3}")).toDF("doc_id", "text"))
    def pairs(p: Int) = Dedup.simhashPairs(corpus, "text", "doc_id",
        maxDistance = 3, pieces = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val narrow = pairs(0) // default 4 pieces
    val six = pairs(6)
    val eight = pairs(8)
    assert(narrow == six, s"narrow=$narrow six=$six")
    assert(narrow == eight, s"narrow=$narrow eight=$eight")
    assert(narrow.exists(t => t._1 == 2L && t._2 == 3L && t._3 == 0))
  }

  test("simhash banding at hamming exactly maxDistance is still found (boundary)") {
    // two docs whose signatures differ in exactly d bits must be surfaced
    // by every piece decomposition (pigeonhole boundary case)
    val sigDocs = Seq((0L, "aa bb cc dd ee ff"), (1L, "aa bb cc dd ee gg")).toDF("doc_id", "text")
    val d = {
      val sigs = sigDocs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      java.lang.Long.bitCount(sigs(0L) ^ sigs(1L))
    }
    for (p <- Seq(0, math.min(d + 2, 64), 8).distinct if p == 0 || p > d) {
      val got = Dedup.simhashPairs(sigDocs, "text", "doc_id", maxDistance = d, pieces = p)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.contains((0L, 1L)), s"pieces=$p d=$d missed the boundary pair")
    }
  }

  test("shingles empty for docs shorter than k") {
    val sh = docs.select(Dedup.shingles(col("text"), 3).as("sh"))
      .filter(col("sh").isNotNull).collect()
    val shortDoc = docs.filter(col("doc_id") === 5L)
      .select(size(Dedup.shingles(col("text"), 3))).head().getInt(0)
    assert(shortDoc == 0)
    assert(sh.length == docs.count())
  }

  test("brute-force vs ANN topk: ANN results are a subset with high recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), _.cast("double"))).head().getSeq[Double](0).toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val exact = SimilaritySearch.bruteForceTopK(corpus, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = SimilaritySearch.annTopK(corpus, "embedding", "vec_id", query, 10,
      nBits = 6, nTables = 12)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall too low: $recall (exact=$exact ann=$ann)")
  }

  test("int8 quantization: codes bounded, scale-invariant cosine, rescored top-k exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = SimilaritySearch.quantize(emb, "embedding", "vec_id")
    // codes live in [-127, 127]; max-|v| element hits ±127 exactly
    val stats = q.select(
      min(array_min(col("qcodes"))), max(array_max(col("qcodes"))),
      min(col("qscale"))).head()
    assert(stats.getByte(0) >= -127 && stats.getByte(1) <= 127)
    assert(stats.getDouble(2) > 0.0)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val exact = SimilaritySearch.bruteForceTopK(corpus, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSeq
    val quant = SimilaritySearch.quantizedTopK(corpus, "embedding", "vec_id", query,
      k = 10, pool = 20)
      .collect().map(_.getLong(0)).toSeq
    assert(quant == exact, s"rescored quantized top-k diverged: $quant vs $exact")
  }

  test("ivf: cells partition losslessly; planted cluster found at nprobe=1") {
    // corpus: 60 random vectors + a planted tight cluster of 5 around one
    // anchor; query near the anchor
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val anchor = vec()
    def near(eps: Double): Array[Float] =
      anchor.map(x => (x + eps * rnd.nextGaussian()).toFloat)
    val rows = (1L to 60L).map(i => (i, vec())) ++
      (61L to 65L).map(i => (i, near(0.01)))
    val df = rows.toDF("vec_id", "embedding")
    val query = anchor.map(_.toDouble)

    // full probe == brute force (cells drop/duplicate nothing)
    val exact = SimilaritySearch.bruteForceTopK(df, "embedding", "vec_id", query, 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = SimilaritySearch.ivfTopK(df, "embedding", "vec_id", query,
      k = 8, nlist = 8, nprobe = 8).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact)

    // assignment is a partition: every id exactly once, cluster in range
    val assigned = SimilaritySearch.ivfAssign(df, "embedding", "vec_id", nlist = 8)
    assert(assigned.count() == 65)
    assert(assigned.select("vec_id").distinct().count() == 65)
    assert(assigned.filter(col("cluster") < 0 || col("cluster") >= 8).count() == 0)

    // the planted cluster occupies very few cells (near-identical vectors
    // share a nearest centroid unless a member was itself sampled as one),
    // and those cells' centroids are the closest to the anchor — so they
    // lead the probe order and a small nprobe recalls the whole cluster
    val clusterCells = assigned.filter(col("vec_id") >= 61)
      .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    assert(clusterCells.size <= 2,
      s"planted near-identical vectors spread over ${clusterCells.size} cells")
    val probed = SimilaritySearch.ivfTopK(df, "embedding", "vec_id", query,
      k = 5, nlist = 8, nprobe = clusterCells.size)
      .collect().map(_.getLong(0)).toSet
    assert((61L to 65L).toSet.subsetOf(probed),
      s"nprobe=${clusterCells.size} must recall the planted cluster, got $probed")
  }

  test("multimodal decode + features + frames plumbing") {
    val payload = Array.tabulate(1000)(i => (i % 251).toByte)
    val df = Seq((1L, Multimodal.encodeFakeImage(640, 480, 3, payload)),
      (2L, "not an image".getBytes("UTF-8")), (3L, null))
      .toDF("id", "img")
    val meta = Multimodal.decodeImageMeta(df, "img")
      .select(col("id"), col("image_meta.*")).orderBy(col("id")).collect()
    assert(meta(0).getInt(1) == 640 && meta(0).getInt(2) == 480 && meta(0).isNullAt(5))
    assert(meta(1).getString(5) == "unsupported format")
    assert(meta(2).getString(5) == "null payload")

    val feats = Multimodal.extractFeatures(df.filter(col("id") === 1L), "img")
      .select(size(col("features"))).head().getInt(0)
    assert(feats == 8)

    val frames = Multimodal.sampleFrames(df.filter(col("id") === 1L), "img", "id",
      frameSize = 100, stride = 2)
    // 1000 payload + 15 header bytes = 1015 -> 11 chunks -> every 2nd = 6
    assert(frames.count() == 6)
  }

  test("multimodal decode reads real PNG/JPEG headers via javax.imageio") {
    val df = Seq(
      (1L, Multimodal.encodeImage(123, 45, "png")),
      (2L, Multimodal.encodeImage(8, 8, "png", gray = true)),
      (3L, Multimodal.encodeImage(64, 32, "jpg")),
      // truncated PNG: magic bytes survive but the header read fails →
      // in-band error, not a task failure
      (4L, Multimodal.encodeImage(10, 10, "png").take(12)))
      .toDF("id", "img")
    val meta = Multimodal.decodeImageMeta(df, "img")
      .select(col("id"), col("image_meta.*")).orderBy(col("id")).collect()
    assert(meta(0).getInt(1) == 123 && meta(0).getInt(2) == 45 &&
      meta(0).getInt(3) == 3 && meta(0).isNullAt(5))
    assert(meta(1).getInt(3) == 1) // grayscale = 1 band
    assert(meta(2).getInt(1) == 64 && meta(2).getInt(3) == 3)
    assert(meta(3).getString(5) != null)
  }

  test("rolling hash expression matches reference loop and is codegen'd") {
    val expected = {
      var h = 0L
      "hello world".getBytes("UTF-8").foreach(b => h = h * 31L + (b & 0xffL))
      h
    }
    val got = Seq("hello world").toDF("t")
      .select(TextFunctions.rollingHash(col("t"))).head().getLong(0)
    assert(got == expected)
    // also via SQL registration
    TextFunctions.registerAll(spark)
    val viaSql = spark.sql("SELECT rolling_hash('hello world')").head().getLong(0)
    assert(viaSql == expected)
  }

  test("kmeans: planted clusters recovered, assignment deterministic, counts partition") {
    import spark.implicits._
    // 3 tight planted clusters around orthogonal-ish anchors
    val anchors = Seq(
      Array(10.0, 0.0, 0.0, 1.0), Array(0.0, 10.0, 0.0, 1.0), Array(0.0, 0.0, 10.0, 1.0))
    // interleave ids so the deterministic smallest-id init picks one
    // seed per planted cluster (k-means converges from any reasonable
    // init; the test isn't about escaping adversarial local minima)
    val rows = for {
      (a, c) <- anchors.zipWithIndex; i <- 0 until 20
    } yield (i.toLong * 3 + c, a.map(x => x + (i % 5) * 0.01))
    val df = rows.toDF("vec_id", "embedding")
    val cs = KMeans.fit(df, "embedding", "vec_id", k = 3, iters = 3)
    assert(cs.length == 3)
    // every member lands with its planted cluster-mates
    val assigned = KMeans.assign(df, "embedding", cs)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byPlanted = assigned.groupBy(_._1 % 3).view.mapValues(_.map(_._2).distinct)
    byPlanted.foreach { case (p, cls) =>
      assert(cls.size == 1, s"planted cluster $p split across $cls") }
    // the 3 planted groups map to 3 distinct centroids
    assert(byPlanted.values.flatten.toSet.size == 3)
    // lloydStep member counts partition the corpus
    val n = KMeans.lloydStep(df, "embedding", cs)
      .agg(sum(col("n_members"))).head().getLong(0)
    assert(n == rows.size)
  }

  test("semdedup: planted near-dups pruned per cluster, farthest-from-centroid kept") {
    import spark.implicits._
    // Two cosine clusters in 2-D; k=2 deterministic init picks ids 0 and
    // 1 (one per cluster). Cluster 0: {0, 2} with cos(0,2) >= tau — id 2
    // is farther from the centroid (lower cent_sim), so id 0 is shadowed
    // and dropped. Cluster 1: {1, 3, 4} — id 3 shadows id 1 the same
    // way; id 4 is below tau to every member, kept despite lowest
    // priority being irrelevant (nothing outranks AND matches it).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.999f, 0.02f)),
      (3L, Array(0.02f, 0.999f)),
      (4L, Array(0.7f, 0.75f))).toDF("vec_id", "embedding")
    val out = SemDeDup.semDedup(emb, "embedding", "vec_id", k = 2, tau = 0.99)
    val kept = out.select(col("vec_id")).as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L), s"kept $kept")
    // keepers carry their cluster and centroid similarity; clusters are
    // the two init ids' cells
    val clusters = out.select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(2L) == 0L && clusters(3L) == 1L && clusters(4L) == 1L)
    // brute-force cross-check of the shadow rule over ALL rows
    val assigned = KMeans.assignWithSim(emb, "embedding",
      KMeans.initCentroids(emb, "embedding", "vec_id", 2))
      .select(col("vec_id"), col("cluster"), col("cent_sim"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getSeq[Double](3).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = assigned.filter { case (id, cl, cs, v) =>
      !assigned.exists { case (yid, ycl, ycs, yv) =>
        ycl == cl && (ycs < cs || (ycs == cs && yid < id)) && cos(v, yv) >= 0.99
      }
    }.map(_._1).toSet
    assert(kept == expected)
  }

  test("semdedup: zero-norm embedding is kept and never shadows (NaN cosine guard)") {
    import spark.implicits._
    // cosineSim of a zero vector is NaN, and Spark ranks NaN above every
    // double — without the nanvl guard the zero vector would be dropped
    // as a "duplicate" of anything sharing its cluster, despite being
    // similar to nothing. It must survive, and the real near-dup pair
    // must still resolve normally around it.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.0f, 0.0f)),       // zero norm
      (3L, Array(0.999f, 0.02f))).toDF("vec_id", "embedding")
    val kept = SemDeDup.semDedup(emb, "embedding", "vec_id", k = 2, tau = 0.99)
      .select(col("vec_id")).as[Long].collect().toSet
    // 3 shadows 0 (same cluster, farther from centroid, cos >= tau);
    // 1 and the zero vector survive untouched
    assert(kept == Set(1L, 2L, 3L), s"kept $kept")
  }

  test("ivf persisted index: full probe equals brute force, probes prune partitions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    SimilaritySearch.ivfBuild(corpus, "embedding", "vec_id", nlist = 8, path)
    // full probe over the persisted index == brute force over the corpus
    // (identical rounding scale and tie-break)
    val full = SimilaritySearch.ivfQuery(spark, path, "embedding", "vec_id",
      query, k = 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    val exact = SimilaritySearch.bruteForceTopK(
      corpus, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact, s"$full vs $exact")
    // a narrow probe PLANS a partition filter — pruning happens at the
    // directory level, the unprobed cells are never scanned
    val narrow = SimilaritySearch.ivfQuery(spark, path, "embedding", "vec_id",
      query, k = 5, nprobe = 2)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      plan.take(1200))
    assert(narrow.count() == 5)
  }

  test("trigram entropy: junk scores above in-domain text; unseen trigrams smoothed") {
    import spark.implicits._
    val normal = (1L to 20L).map(i => (i, "the quick brown fox jumps over the lazy dog " * 3))
    val junk = Seq((99L, "qzx jvq wkx pzq vxk zqj xwv kqz jzx qvw pqz zxv"))
    val df = (normal ++ junk).toDF("id", "t")
    val scored = Perplexity.selfScore(df, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(99L) > scored(1L) + 1.0,
      s"junk ${scored(99L)} not clearly above normal ${scored(1L)}")
    // reference-LM reuse: a doc with trigrams unseen by the LM falls back
    // to the additive floor instead of crashing or dropping rows
    val lm = Perplexity.buildLm(df.filter($"id" < 99L), "id", "t")
    val unseen = Perplexity.score(Seq((7L, "totally ### unseen $$$ bytes"))
      .toDF("id", "t"), lm, "id", "t").collect()
    assert(unseen.length == 1 && unseen(0).getDouble(2) > scored(1L))
  }

  test("pagerank: mass conserved, hub outranks leaves, deterministic") {
    import spark.implicits._
    // star graph: 1 <-> {2,3,4}, plus an isolated pair 8 <-> 9
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (8L, 9L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("u", "v")
    val pr = PageRank.ranks(edges, "u", "v", 0.85, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 6)
    // symmetric graph: total rank mass conserved at 1.0 per round
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr.values.sum.toString)
    // the hub holds more rank than its leaves; leaves are symmetric-equal
    assert(pr(1L) > pr(2L) && pr(2L) == pr(3L) && pr(3L) == pr(4L))
    // pair nodes exchange rank symmetrically
    assert(math.abs(pr(8L) - pr(9L)) < 1e-12)
  }

  test("pagerank: directed graph with a sink conserves mass, sink gets rank") {
    import spark.implicits._
    // 1 -> 2 -> 3, 3 is a pure sink (no out-edges)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val pr = PageRank.ranks(edges, "u", "v", 0.85, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // n counts ALL endpoints: the sink appears with a rank row
    assert(pr.size == 3 && pr.contains(3L))
    // dangling mass is redistributed, so total rank stays 1.0
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr.values.sum.toString)
    // downstream of the chain accumulates rank: 3 > 2 > 1
    assert(pr(3L) > pr(2L) && pr(2L) > pr(1L), pr.toString)
  }

  test("langId picks marker-dominant language deterministically") {
    val preds = Seq(
      ("the cat and the dog of a house", "en"),
      ("der hund und die katze und das haus", "de"),
      ("le chat et la maison et les chiens", "fr"),
      ("xyz qrs tuv", "unk"))
      .toDF("text", "expected")
      .select(TextFunctions.langId(col("text")).as("got"), col("expected"))
      .collect()
    preds.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }
}
