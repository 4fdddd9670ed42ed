package perfbench

import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** federated_rw: a seeded closed-loop mix of small remote ops, writes
  * beside reads on the same HTTP and Spark-job path. A cycle is 20 ops in
  * a seeded order (shares in `Mix`):
  *   txn     BEGIN; 8 x d1_execute INSERT; COMMIT
  *   append  df.write.format("d1") of 100 rows (50 statements per POST)
  *   scan    format("d1") with a pushed range filter and LIMIT 20
  *   iceberg filtered read of `orders` over the REST catalog and r2://
  */
final class FederatedRw extends Workload {
  private val TxnRows = 8
  private val AppendRows = 100
  private val ScanLimit = 20
  /** Ops per cycle. Scans, the middle of the latency order (txn < scan <
    * append < iceberg), hold 40%, so the median falls inside one op type
    * rather than on the gap between two, and the p90 inside iceberg. */
  private val Mix = Seq("txn" -> 4, "append" -> 4, "scan" -> 8, "iceberg" -> 4)
  private val Db = "00000000-0000-0000-0000-0000000000d1"
  private var server: Server = _
  private var data: ServerData = _
  /** Rows the server should hold, in insertion order. */
  private val ledger = mutable.ArrayBuffer.empty[(String, Long, String)]
  private var orders: Array[(Long, Double)] = _
  private var liveFiles = 0
  /** (op id, what was checked, ok) for the checks made after each op. */
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean)]

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    val fed = new java.io.File(c.inputs, "federated")
    val ordersPath = new java.io.File(fed, "orders.parquet").getAbsolutePath
    graft.Graft.tuneForTinyInput(spark, new java.io.File(ordersPath).length)
    data = new ServerData(None)
    server = c.phase("server") {
      new Server(c.seed, Profile.fromJson(c.config.get("server")), data).start()
    }
    c.server = Some(server)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readTree(new java.io.File(fed, "d1_rows.json")).elements().asScala.foreach { n =>
      val r = (n.get("k").asText(), n.get("v").asLong(), n.get("tag").asText())
      data.d1Rows.add(r)
      ledger += r
    }
    graft.Graft.createSecret("perfbench", "d1", Map("account_id" -> "acct", "api_token" -> "tok"))
    graft.sources.d1.D1.registerExecuteUdf(spark, server.base + "/client/v4")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.r2.impl", "graft.sources.r2.R2FileSystem")
    hc.set("fs.r2.impl.disable.cache", "true")
    hc.set("fs.r2.endpoint", server.base)
    spark.conf.set("spark.sql.catalog.lake", "graft.sources.iceberg.IcebergRestCatalog")
    spark.conf.set("spark.sql.catalog.lake.uri", s"${server.base}/iceberg")
    c.phase("iceberg_publish") {
      val df = spark.read.parquet(ordersPath)
      val files = mapper.readTree(new java.io.File(fed, "props.json")).get("iceberg_files").asInt()
      graft.fixtures.IcebergFixture.publishSnapshots(data.stub, "bench", "orders", Seq(df),
        rangeFiles = Some(("o_orderkey", files)), withBounds = true)
      liveFiles = data.stub.objects.keys.count(_.startsWith("iceberg/bench/orders/data/"))
      orders = df.select("o_orderkey", "o_totalprice").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    }
    c.phase("warmup")(unit(c, -1))
  }

  private def d1 = Map("secret" -> "perfbench", "database_id" -> Db,
    "api_base" -> (server.base + "/client/v4"), "table" -> "kv")

  private val tags = Array("red", "green", "blue", "amber")

  def unit(c: Ctx, i: Int): Unit = {
    val spark = c.spark
    import spark.implicits._
    val rnd = new scala.util.Random(c.seed * 7919L + i)
    val kinds = rnd.shuffle(Mix.toSeq.flatMap { case (k, n) => Seq.fill(n)(k) })
    kinds.zipWithIndex.foreach { case (kind, j) =>
      def rows(n: Int) = (0 until n).map(x =>
        (s"$kind-${c.seed}-$i-$j-$x", rnd.nextInt(10000).toLong, tags(rnd.nextInt(tags.length))))
      kind match {
        case "txn" =>
          val rs = rows(TxnRows)
          val stmts = rs.map { case (k, v, t) => s"INSERT INTO kv (k, v, tag) VALUES ('$k', $v, '$t')" }
          c.op("txn", rs.size) {
            spark.sql("BEGIN")
            try {
              stmts.toDF("s").selectExpr(s"d1_execute(s, 'perfbench', '$Db')").collect()
            } catch { case e: Exception => spark.sql("ROLLBACK"); throw e }
            spark.sql("COMMIT")
          }.foreach(_ => ledger ++= rs)
        case "append" =>
          val rs = rows(AppendRows)
          c.op("append", rs.size) {
            rs.toDF("k", "v", "tag").coalesce(1).write.format("d1").options(d1)
              .mode("append").save()
          }.foreach(_ => ledger ++= rs)
        case "scan" =>
          val lo = rnd.nextInt(9700).toLong
          val got = c.op("scan") {
            spark.read.format("d1").options(d1).load()
              .filter(col("v") >= lo && col("v") < lo + 300).limit(ScanLimit).collect()
              .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
          }
          got.foreach { g =>
            val want = ledger.filter(r => r._2 >= lo && r._2 < lo + 300).take(ScanLimit).toSeq
            checks += ((s"d1 scan [$lo,${lo + 300}) returned ${g.size} rows, ledger ${want.size}",
              g == want))
          }
        case "iceberg" =>
          val lo = rnd.nextInt(394000).toLong
          val got = c.op("iceberg") {
            spark.sql(s"SELECT o_orderkey, o_totalprice FROM lake.bench.orders " +
              s"WHERE o_orderkey >= $lo AND o_orderkey < ${lo + 6000}").collect()
              .map(r => (r.getLong(0), r.getDouble(1)))
          }
          got.foreach { g =>
            val want = orders.filter(o => o._1 >= lo && o._1 < lo + 6000)
            checks += ((s"iceberg [$lo,${lo + 6000}) returned ${g.length} rows, parquet ${want.length}",
              g.sortBy(_._1).sameElements(want.sortBy(_._1))))
          }
      }
    }
  }

  def check(c: Ctx): Unit = {
    checks.foreach { case (what, ok) => c.expect(what, ok) }
    val all = c.spark.read.format("d1").options(d1).load().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    c.expect(s"d1 read-back holds ${all.size} rows, committed ${ledger.size}", all == ledger.toSeq)
    c.props("d1_rows_committed") = ledger.size
    c.props("iceberg_live_files") = liveFiles
  }

  private def isWrite(k: String) = k == "txn" || k == "append"

  def endToEnd(c: Ctx, ops: Seq[OpRec]): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    Map("ops_per_s" -> ok.size / (ok.map(_.ms).sum / 1000.0),
      "op_p50_ms" -> Main.quantile(ok.map(_.ms), 0.5),
      "op_p90_ms" -> Main.quantile(ok.map(_.ms), 0.9))
  }

  override def report(c: Ctx, ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val ok = ops.filter(_.ok)
    val w = ok.filter(o => isWrite(o.kind)).map(_.ms)
    val r = ok.filter(o => !isWrite(o.kind)).map(_.ms)
    c.props("write_samples") = w.size
    c.props("read_samples") = r.size
    c.props("median_ms_by_type") = ok.groupBy(_.kind).map { case (k, v) =>
      k -> Main.quantile(v.map(_.ms), 0.5).round }
    Seq(("ops_per_s", endToEnd(c, ops)("ops_per_s"), "1/s"),
      ("write_p50_ms", Main.quantile(w, 0.5), "ms"), ("write_p90_ms", Main.quantile(w, 0.9), "ms"),
      ("read_p50_ms", Main.quantile(r, 0.5), "ms"), ("read_p90_ms", Main.quantile(r, 0.9), "ms"))
  }

  def layers(c: Ctx, t: Traced): Map[String, Double] = {
    val kindOf = t.ops.map(o => o.id -> o.kind).toMap
    def opsOf(p: String => Boolean) = t.ops.filter(o => p(o.kind))
    def reqsOf(p: String => Boolean, kind: String) =
      t.reqs.filter(r => r.kind == kind && kindOf.get(r.op).exists(p))
    val writes = opsOf(isWrite)
    val d1Ops = opsOf(k => k != "iceberg")
    val ice = opsOf(_ == "iceberg")
    val d1w = reqsOf(isWrite, "d1")
    val d1all = reqsOf(_ != "iceberg", "d1")
    val r2 = reqsOf(_ == "iceberg", "r2")
    val r2gets = r2.filter(r => !r.path.contains("list-type"))
    val iceTasks = t.tasks.filter(x => kindOf.get(x.op).contains("iceberg"))
    val filesRead = ice.map(o => r2gets.filter(r => r.op == o.id && r.path.contains("/data/"))
      .map(_.path.split("\\?").head).distinct.size.toDouble / math.max(1, liveFiles))
    Map(
      "d1.round_trips_per_write" -> d1w.size.toDouble / math.max(1, writes.size),
      "d1.statements_per_round_trip" -> d1all.map(_.statements).sum.toDouble / math.max(1, d1all.size),
      "d1.request_bytes_per_row" -> d1w.map(_.reqBytes).sum.toDouble / math.max(1L, writes.map(_.items).sum),
      "d1.jobs_per_op" -> t.jobs.count(j => kindOf.get(j.op).exists(_ != "iceberg")).toDouble /
        math.max(1, d1Ops.size),
      "iceberg.rest_calls_per_read" -> reqsOf(_ == "iceberg", "iceberg").size.toDouble / math.max(1, ice.size),
      "r2.gets_per_read" -> r2gets.size.toDouble / math.max(1, ice.size),
      "r2.bytes_per_read" -> r2.map(_.respBytes).sum.toDouble / math.max(1, ice.size),
      "iceberg.files_read_ratio" -> (if (filesRead.isEmpty) 0.0 else filesRead.sum / filesRead.size),
      "r2.input_bytes_visible_ratio" ->
        iceTasks.map(_.inputBytes).sum.toDouble / math.max(1L, r2.map(_.respBytes).sum))
  }
}
