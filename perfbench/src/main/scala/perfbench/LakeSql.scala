package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** lake_sql: headline queries over the generated lake, each timed round
  * a seeded permutation, each query materialized with a `noop` write.
  * No HTTP: a remote-I/O change must read "no change" here. */
final class LakeSql extends Workload {
  /** Seven of `graft.Bench.headline`'s 42 queries: one per operator
    * family (scan/agg, join, window, events, n-gram, MinHash-LSH, dup
    * spans), heavy tail included (q06/q46/q47/q80), frozen here so the
    * benchmark does not move with Bench. All 42 do not fit the run
    * budget: their cold pass alone takes ~33 s on 4 cores. The
    * sub-300 ms queries are left out: with them the pooled median fell
    * on whichever mid-latency query won a ~100 ms race, and moved ~20%
    * run to run. An odd count puts the pooled median on one query's
    * samples rather than on the gap between two. */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", "q06_join_5way", "q16_window_topk_per_group",
    "q34_events_sessions", "q46_ngram_jaccard", "q47_minhash_lsh_neardup",
    "q80_dup_ngram_spans")

  private var lake: String = _
  private lazy val defs = graft.SparkEntry.queries
  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]

  private val warmMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    lake = new java.io.File(c.inputs, "lake").getAbsolutePath
    val bytes = new java.io.File(lake).listFiles().map(_.length).sum
    graft.Graft.tuneForTinyInput(spark, bytes)
    // warm-up pass: every query once, cold, collected for the output check
    c.phase("warmup")(queries.foreach { q =>
      val t0 = System.nanoTime()
      c.op(s"warm:$q") {
        val rows = defs(q)(spark, lake).collect()
        digests(q) = (rows.length.toLong, Digest.of(rows))
      }
      warmMs(q) = ((System.nanoTime() - t0) / 1e6).round
    })
    c.props("warmup_ms") = warmMs
  }

  /** Two rounds, each a seeded permutation: 14 samples a unit. */
  def unit(c: Ctx, i: Int): Unit = (0 until 2).foreach { r =>
    val order = new scala.util.Random(c.seed * 1000003L + 2 * i + r).shuffle(queries)
    order.foreach(q => c.op(q)(exec(defs(q)(c.spark, lake))))
  }

  def check(c: Ctx): Unit = {
    val f = new java.io.File(c.config.get("lake_expected").asText())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    if (sys.props.contains("perfbench.record")) {
      val root = mapper.createObjectNode()
      val qs = root.putObject("queries")
      digests.foreach { case (q, (n, d)) => qs.putObject(q).put("rows", n).put("digest", d) }
      mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
    }
    val exp = mapper.readTree(f).get("queries")
    queries.foreach { q =>
      val want = Option(exp.get(q))
      val got = digests.get(q)
      c.expect(s"$q: rows/digest ${got.getOrElse("missing")} != expected " +
        want.map(w => s"(${w.get("rows")},${w.get("digest").asText()})").getOrElse("none"),
        want.isDefined && got.contains((want.get.get("rows").asLong(), want.get.get("digest").asText())))
    }
  }

  def endToEnd(c: Ctx, ops: Seq[OpRec]): Map[String, Double] = {
    val ms = ops.filter(_.ok).map(_.ms)
    c.props("query_samples") = ms.size
    c.props("median_ms_by_query") = ops.groupBy(_.kind).map { case (k, v) =>
      k -> Main.quantile(v.map(_.ms), 0.5).round }
    // rounds run back to back; the forced collection between rounds is
    // outside every op and is not billed
    Map("ops_per_s" -> ms.size / (ms.sum / 1000.0),
      "op_p50_ms" -> Main.quantile(ms, 0.5),
      "op_p90_ms" -> Main.quantile(ms, 0.9))
  }

  override def report(c: Ctx, ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val e = endToEnd(c, ops)
    Seq(("queries_per_s", e("ops_per_s"), "1/s"), ("query_p50_ms", e("op_p50_ms"), "ms"),
      ("query_p90_ms", e("op_p90_ms"), "ms"))
  }

  def layers(c: Ctx, t: Traced): Map[String, Double] = Map.empty
}

/** Order-insensitive digest of a result: rows rendered with floating
  * values at 6 significant digits (partition order moves the last bits
  * of a sum), sorted, hashed. */
object Digest {
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6g"
    case f: Float => if (f.isNaN || f.isInfinite) f.toString else f"${f.toDouble}%.6g"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
