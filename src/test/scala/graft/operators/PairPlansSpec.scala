package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Golden physical plans of the near-duplicate pair operators. Each
  * case renders the AQE initial plan (the static plan before any
  * runtime re-optimization) with expression ids, lambda variable
  * numbers, object hashes, plan ids and file paths normalized away,
  * and compares it byte for byte with
  * `src/test/resources/plans/pairs/<name>.txt`. A refactor of the pair
  * code must leave these unchanged; a change that means to alter a
  * plan regenerates them with `GRAFT_UPDATE_PLAN_GOLDENS=1 sbt
  * "testOnly graft.operators.PairPlansSpec"` and commits the diff.
  */
class PairPlansSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val goldenDir = "src/test/resources/plans/pairs"
  private val update = sys.env.get("GRAFT_UPDATE_PLAN_GOLDENS").contains("1")

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val batch = docs.filter(col("doc_id") >= 250)
  private lazy val ref = docs.filter(col("doc_id") < 250)
  private lazy val indexPath = {
    val p = graft.core.TempDirs.deleteOnExit(
      java.nio.file.Files.createTempDirectory("pair_plans_idx").toString)
    Dedup.lshBuild(ref, "text", "doc_id", p)
    p
  }

  /** The confs the plans depend on, pinned for the spec's duration. A
    * scan's metadata strings are cut at a length that counts expression
    * id digits, so they render uncut.
    */
  private val pinned = Seq(
    "spark.sql.maxMetadataStringLength" -> "100000",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760")

  private def withPinnedConf[T](body: => T): T = {
    val prev = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def render(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.treeString
      .replaceAll("#\\d+", "#")
      .replaceAll("\\b(x_)\\d+", "$1")
      .replaceAll("@[0-9a-f]+\\b", "@")
      .replaceAll(",? ?\\[plan_id=\\d+\\]", "")
      .replaceAll("file:[^\\],\\s]*/([^/\\],\\s]+)", "$1")
      .linesIterator.map(_.replaceAll("\\s+$", "")).mkString("", "\n", "\n")
  }

  private def golden(name: String)(df: => DataFrame): Unit =
    test(s"pair plan golden: $name") {
      val got = withPinnedConf(render(df))
      val file = new java.io.File(goldenDir, s"$name.txt")
      if (update) {
        file.getParentFile.mkdirs()
        java.nio.file.Files.writeString(file.toPath, got)
      } else {
        assert(file.isFile, s"missing golden $file — regenerate with GRAFT_UPDATE_PLAN_GOLDENS=1")
        val want = java.nio.file.Files.readString(file.toPath)
        assert(got == want, s"plan of $name differs from $file:\n$got")
      }
    }

  golden("minhashLshPairs")(Dedup.minhashLshPairs(docs, "text", "doc_id"))
  golden("minhashLshAgainstPairs")(
    Dedup.minhashLshAgainstPairs(batch, ref, "text", "doc_id"))
  golden("minhashLshIndexPairs_broadcast")(
    Dedup.minhashLshIndexPairs(batch, indexPath, "text", "doc_id"))
  golden("minhashLshIndexPairs_merge")(
    Dedup.minhashLshIndexPairs(batch, indexPath, "text", "doc_id",
      broadcastMaxBandRows = 0L))
  golden("minhashLshDedup")(Dedup.minhashLshDedup(docs, "text", "doc_id"))
  golden("dedupAgainst")(Dedup.dedupAgainst(batch, ref, "text", "doc_id"))
  golden("dedupAgainstIndex")(
    Dedup.dedupAgainstIndex(batch, indexPath, "text", "doc_id"))
  golden("simhashPairs")(Dedup.simhashPairs(docs, "text", "doc_id"))
  golden("ngramJaccardPairs")(
    Dedup.ngramJaccardPairs(docs.filter(col("doc_id") < 200), "text", "doc_id",
      blockCol = floor(length(col("text")) / 100), threshold = 0.8))
  golden("cosineNearDupPairs")(
    SimilaritySearch.cosineNearDupPairs(
      spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 300),
      "embedding", "vec_id", threshold = 0.3, nBits = 6, nTables = 8))
  golden("sharedPrints")(Winnowing.sharedPrints(docs, "doc_id", "text", 5, 4, 2))
}
