package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._

import graft.fixtures.Fixtures
import graft.core.Secrets

class ConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.TestSpark.spark

  lazy val stub = Fixtures.startAll()

  override def afterAll(): Unit = { stub.stop() }

  // ---- wayback: golden cdx_url generation (tier-2 surface, no network)
  test("wayback debug cdx_url: url equality + limit") {
    val df = spark.read.format("wayback")
      .option("debug", "true")
      .load()
      .filter(col("url") === "example.com")
      .limit(5)
      .select(col("cdx_url"))
    val url = df.collect().map(_.getString(0)).head
    assert(url == "https://web.archive.org/cdx/search/cdx?url=example.com&output=csv&limit=5")
    // no network: the stub saw nothing
    assert(!stub.requests.toArray.exists(_.toString.contains("cdx/search")))
  }

  test("wayback debug cdx_url: statuscode + mimetype filters") {
    val df = spark.read.format("wayback").option("debug", "true").load()
      .filter(col("url") === "example.com" && col("statuscode") === 200 &&
        col("mimetype") =!= "text/html")
      .limit(10)
      .select(col("cdx_url"))
    val url = df.collect().head.getString(0)
    assert(url.contains("&filter=statuscode:200"))
    assert(url.contains("&filter=!mimetype:text/html"))
    assert(url.contains("&limit=10"))
  }

  test("wayback debug cdx_url: url prefix via LIKE 'x%' and IN pushdown") {
    val df = spark.read.format("wayback").option("debug", "true").load()
      .filter(col("url").like("example.com/%") && col("statuscode").isin(200, 301, 302))
      .limit(7)
      .select(col("cdx_url"))
    val url = df.collect().head.getString(0)
    assert(url.contains("url=example.com/*"))
    assert(url.contains("&filter=statuscode:(200|301|302)"))
  }

  test("wayback debug cdx_url: ORDER BY timestamp DESC -> fastLatest") {
    // the sort keeps `timestamp` in the scan, so this path does fetch
    // CDX records (as in the reference, whose fastLatest tests require
    // httpfs) — served by the stub here
    val df = spark.read.format("wayback").option("debug", "true")
      .option("cdx_endpoint", s"${stub.base}/cdx/search/cdx")
      .load()
      .filter(col("url") === "example.com")
      .orderBy(col("timestamp").desc)
      .limit(10)
      .select(col("cdx_url"))
    val url = df.collect().head.getString(0)
    assert(url.contains("&fastLatest=true&limit=-10"), url)
  }

  test("wayback debug cdx_url: year range and collapse option") {
    val df = spark.read.format("wayback").option("debug", "true")
      .option("collapse", "timestamp:8").load()
      .filter(col("url") === "example.com" && col("year") >= 2020 && col("year") < 2024)
      .limit(100)
      .select(col("cdx_url"))
    val url = df.collect().head.getString(0)
    assert(url.contains("&from=2020"))
    assert(url.contains("&to=2023"))
    assert(url.contains("&collapse=timestamp:8"))
  }

  test("wayback requires a url filter") {
    val e = intercept[Exception] {
      spark.read.format("wayback").load().select("urlkey").collect()
    }
    assert(e.getMessage.contains("requires a URL filter") ||
      Option(e.getCause).exists(_.getMessage.contains("requires a URL filter")))
  }

  // ---- wayback: end-to-end against the stub --------------------------
  test("wayback scan parses CSV, derives year/month, prunes fl") {
    val df = spark.read.format("wayback")
      .option("cdx_endpoint", s"${stub.base}/cdx/search/cdx")
      .option("url", "example.com")
      .load()
      .select(col("url"), col("statuscode"), col("year"), col("month"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(2)).toSet == Set(2024, 2023))
    assert(rows.head.getString(0) == "https://example.com/")
    // fl pruning reached the remote request
    val cdxReq = stub.requests.toArray.map(_.toString).filter(_.contains("/cdx/search/cdx"))
    assert(cdxReq.exists(_.contains("fl=timestamp,original,statuscode")), cdxReq.mkString(";"))
  }

  test("wayback timestamp pushdown is trusted (no residual filter)") {
    val df = spark.read.format("wayback")
      .option("cdx_endpoint", s"${stub.base}/cdx/search/cdx")
      .option("url", "example.com")
      .load()
      .filter(col("timestamp") >= "2020-01-01 00:00:00")
      .select(col("url"))
    // all three fixture rows come back: the remote is trusted, Spark does
    // not re-filter (the 2023 row survives because the stub ignores from=)
    assert(df.count() == 3)
  }

  test("wayback response struct fetches archived page bodies") {
    val df = spark.read.format("wayback")
      .option("cdx_endpoint", s"${stub.base}/cdx/search/cdx")
      .option("page_endpoint", s"${stub.base}/web")
      .option("url", "example.com")
      .load()
      .select(col("url"), col("response.body").as("body"), col("response.error").as("err"))
    val rows = df.collect()
    assert(rows.length == 3)
    val err = if (rows.head.isNullAt(2)) "" else rows.head.getString(2)
    assert(new String(rows.head.getAs[Array[Byte]]("body")) == "<html>archived page</html>",
      s"error field: '$err'")
    assert(rows.head.isNullAt(2))
  }

  // ---- common crawl ---------------------------------------------------
  test("commoncrawl scan end-to-end with warc structs") {
    val df = spark.read.format("commoncrawl")
      .option("index_endpoint", stub.base)
      .option("data_endpoint", stub.base)
      .option("crawl", "CC-MAIN-2024-46")
      .option("url_like", "%.example.com/%")
      .load()
      .select(col("url"), col("crawl_id"), col("warc.version").as("wv"),
        col("response.body").as("body"),
        element_at(col("response.headers"), "Content-Type").as("ct"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.head.getString(1) == "CC-MAIN-2024-46")
    assert(rows.head.getString(2) == "1.0")
    assert(new String(rows.head.getAs[Array[Byte]]("body")) == "<html>hello graft</html>")
    assert(rows.head.getString(4) == "text/html")
    // URL pattern conversion %→* reached the request
    assert(stub.requests.toArray.map(_.toString)
      .exists(_.contains("url=*.example.com/*")))
  }

  test("commoncrawl body structs follow nested column pruning") {
    // selecting part of a struct prunes it to those fields: the scan must
    // emit them in the pruned order, not the full struct's
    val rows = spark.read.format("commoncrawl")
      .option("index_endpoint", stub.base)
      .option("data_endpoint", stub.base)
      .option("crawl", "CC-MAIN-2024-46")
      .option("url_like", "%.example.com/%")
      .load()
      .select(col("response.error").as("err"), col("response.http_version").as("hv"),
        element_at(col("warc.headers"), "WARC-Type").as("wt"))
      .collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.isNullAt(0) && r.getString(1) == "1.1" && r.getString(2) == "response"),
      rows.mkString(";"))
  }

  test("commoncrawl filter pushdown: status/mime/crawl_id IN fan-out") {
    stub.requests.clear()
    val df = spark.read.format("commoncrawl")
      .option("index_endpoint", stub.base)
      .option("data_endpoint", stub.base)
      .option("url_like", "example.com/%")
      .load()
      .filter(col("crawl_id").isin("CC-MAIN-2024-46", "CC-MAIN-2024-42") &&
        col("statuscode") === 200 && col("mimetype") === "text/html")
      .select(col("url"))
    assert(df.rdd.getNumPartitions == 2) // one partition per crawl
    df.collect()
    val reqs = stub.requests.toArray.map(_.toString).filter(_.contains("-index?"))
    assert(reqs.length == 2)
    assert(reqs.forall(_.contains("filter==status:200")))
    assert(reqs.forall(_.contains("filter==mime:text/html")))
  }

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.get

  test("commoncrawl partitions=N shards one crawl into pywb page ranges") {
    stub.requests.clear()
    val df = spark.read.format("commoncrawl")
      .option("index_endpoint", stub.base)
      .option("data_endpoint", stub.base)
      .option("crawl", "CC-MAIN-2024-46")
      .option("url_like", "example.com/%")
      .option("partitions", "3")
      .load()
      .limit(8)
      .select(col("url"))
    // probe says 4 pages → 3 shards over page ranges [0,1) [1,2) [2,4)
    assert(scanPartitions(df) == 3)
    val rows = df.collect()
    // partially-pushed limit: the global re-trim still caps the result
    assert(rows.length == 8)
    val reqs = stub.requests.toArray.map(_.toString).filter(_.contains("-index?"))
    assert(reqs.exists(_.contains("showNumPages=true")), reqs.mkString(";"))
    val pageReqs = reqs.filterNot(_.contains("showNumPages"))
    // each shard fetches its pages 0-based; every page request keeps the
    // full per-crawl limit (row distribution across pages is unknown)
    assert(pageReqs.forall(_.contains("limit=8")), pageReqs.mkString(";"))
    val pages = pageReqs.flatMap(r => "page=(\\d+)".r.findFirstMatchIn(r).map(_.group(1).toInt))
    assert(pages.toSet == Set(0, 1, 2, 3), pageReqs.mkString(";"))
  }

  test("commoncrawl partitions clamp to the probed page count") {
    val df = spark.read.format("commoncrawl")
      .option("index_endpoint", stub.base)
      .option("data_endpoint", stub.base)
      .option("crawl", "CC-MAIN-2024-46")
      .option("url_like", "example.com/%")
      .option("partitions", "9")
      .load()
      .limit(2)
      .select(col("url"))
    // only 4 pages exist → 4 shards, and the global limit still trims to 2
    assert(scanPartitions(df) == 4)
    assert(df.collect().length == 2)
  }

  test("commoncrawl falls back to one partition when the page probe fails") {
    val df = spark.read.format("commoncrawl")
      .option("index_endpoint", stub.base)
      .option("data_endpoint", stub.base)
      .option("crawl", "CC-NOPAGES-2019-04")
      .option("url_like", "example.com/%")
      .option("partitions", "3")
      .load()
      .limit(8)
      .select(col("url"))
    // no page-count answer → sharding declined, never duplicate rows
    assert(scanPartitions(df) == 1)
  }

  test("commoncrawl timestamp filter resolves crawls via collinfo and is re-applied") {
    stub.requests.clear()
    val df = spark.read.format("commoncrawl")
      .option("index_endpoint", stub.base)
      .option("data_endpoint", stub.base)
      .option("collinfo_endpoint", s"${stub.base}/collinfo.json")
      .option("url_like", "example.com/%")
      .load()
      .filter(col("timestamp") >= "2024-10-05 00:00:00" && col("timestamp") < "2024-11-02 00:00:00")
      .select(col("url"), col("timestamp"))
    // collinfo: both crawls overlap [oct5, nov2)
    assert(df.rdd.getNumPartitions == 2)
    // fixture rows are from 2024-01, outside the range → Spark re-filters
    // (CC keeps ts filters, unlike wayback)
    assert(df.count() == 0)
    val reqs = stub.requests.toArray.map(_.toString).filter(_.contains("-index?"))
    assert(reqs.forall(r => r.contains("&from=202410") && r.contains("&to=202411")))
  }

  // ---- CDX pushdown matrix ---------------------------------------------
  // One row per consume arm of the wayback and commoncrawl scans: the debug
  // `cdx_url` the scan reports and whether the predicate stays a residual
  // Filter above the scan. Every read points at the stub, so a case whose
  // residual predicate pulls a column into the scan fetches real fixture
  // rows (the predicates are chosen so that some rows survive).

  private case class Pin(name: String, src: String, q: DataFrame => DataFrame,
                         url: String, residual: Boolean,
                         opts: Map[String, String] = Map.empty)

  private def debugRead(src: String, opts: Map[String, String]): DataFrame = {
    val endpoints =
      if (src == "wayback") Map("cdx_endpoint" -> s"${stub.base}/cdx/search/cdx",
        "page_endpoint" -> s"${stub.base}/web")
      else Map("index_endpoint" -> stub.base, "data_endpoint" -> stub.base,
        "crawl" -> "CC-MAIN-2024-46")
    spark.read.format(src).option("debug", "true").options(endpoints ++ opts).load()
  }

  private def hasResidualFilter(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect { case f: FilterExec => f }.nonEmpty

  /** The cdx_url values of a scan that projects nothing but cdx_url. */
  private def cdxUrls(df: DataFrame): Seq[String] = rowUrls(df.select(col("cdx_url")))

  /** The cdx_url values of every row, with the columns `df` projects. */
  private def rowUrls(df: DataFrame): Seq[String] =
    df.collect().map(_.getAs[String]("cdx_url").stripPrefix(stub.base)).distinct.toSeq

  private val wbEq = col("url") === "example.com"
  private val ccEq = col("url") === "example.com/%"
  private def limit5(q: DataFrame => DataFrame): DataFrame => DataFrame = df => q(df).limit(5)
  private val WB = "/cdx/search/cdx?url="
  private val CC = "/CC-MAIN-2024-46-index?url="

  private val pushdownMatrix: Seq[Pin] = Seq(
    // ---- wayback: url slot -----------------------------------------------
    Pin("wb url =", "wayback", limit5(_.filter(wbEq)),
      WB + "example.com&output=csv&limit=5", residual = false),
    Pin("wb url prefix", "wayback", limit5(_.filter(col("url").startsWith("example.com/"))),
      WB + "example.com/*&output=csv&limit=5", residual = false),
    Pin("wb url suffix", "wayback", limit5(_.filter(col("url").endsWith(".example.com"))),
      WB + "*.example.com&output=csv&limit=5", residual = false),
    Pin("wb url contains has no arm", "wayback",
      limit5(_.filter(wbEq && col("url").contains("example"))),
      WB + "example.com&output=csv&fl=original&limit=100", residual = true),
    Pin("wb url NOT contains", "wayback", limit5(_.filter(wbEq && !col("url").contains("a.b"))),
      WB + "example.com&output=csv&limit=5&filter=!original:.*a\\.b.*", residual = false),
    Pin("wb url NOT prefix", "wayback",
      limit5(_.filter(wbEq && !col("url").startsWith("example.com/x"))),
      WB + "example.com&output=csv&limit=5&filter=!original:^example%5C.com/x.*",
      residual = false),
    Pin("wb url_like option", "wayback", limit5(identity),
      WB + "example.com/*_&output=csv&limit=5", residual = false,
      Map("url_like" -> "example.com/%_")),
    Pin("wb url option + match_type/from/to/collapse/extra_filters seed", "wayback",
      limit5(identity),
      WB + "example.com&output=csv&matchType=prefix&from=2019&to=2020&limit=5" +
        "&filter=a:b&filter=!c:d&collapse=digest",
      residual = false,
      Map("url" -> "example.com", "match_type" -> "prefix", "from" -> "2019",
        "to" -> "2020", "collapse" -> "digest", "extra_filters" -> "a:b;!c:d")),
    Pin("wb pushed_url freezes the url slot", "wayback",
      limit5(_.filter(col("url").startsWith("https://example.com"))),
      WB + "example.com/*/about&output=csv&fl=original&limit=100", residual = true,
      Map("pushed_url" -> "example.com/*/about")),
    // ---- wayback: regex-able columns -------------------------------------
    Pin("wb urlkey prefix", "wayback", limit5(_.filter(wbEq && col("urlkey").startsWith("com,example)/"))),
      WB + "example.com&output=csv&limit=5&filter=urlkey:^com,example)/.*", residual = false),
    Pin("wb urlkey suffix", "wayback", limit5(_.filter(wbEq && col("urlkey").endsWith("/about"))),
      WB + "example.com&output=csv&limit=5&filter=urlkey:.*/about$", residual = false),
    Pin("wb urlkey contains", "wayback", limit5(_.filter(wbEq && col("urlkey").contains("ex.am"))),
      WB + "example.com&output=csv&limit=5&filter=urlkey:.*ex%5C.am.*", residual = false),
    Pin("wb mimetype prefix", "wayback", limit5(_.filter(wbEq && col("mimetype").startsWith("text/"))),
      WB + "example.com&output=csv&limit=5&filter=mimetype:^text/.*", residual = false),
    Pin("wb urlkey NOT contains", "wayback", limit5(_.filter(wbEq && !col("urlkey").contains("a.b"))),
      WB + "example.com&output=csv&limit=5&filter=!urlkey:.*a\\.b.*", residual = false),
    Pin("wb urlkey NOT prefix", "wayback", limit5(_.filter(wbEq && !col("urlkey").startsWith("org,"))),
      WB + "example.com&output=csv&limit=5&filter=!urlkey:^org,.*", residual = false),
    Pin("wb urlkey NOT suffix", "wayback", limit5(_.filter(wbEq && !col("urlkey").endsWith("x"))),
      WB + "example.com&output=csv&limit=5&filter=!urlkey:.*x$", residual = false),
    Pin("wb mimetype NOT contains has no arm", "wayback",
      limit5(_.filter(wbEq && !col("mimetype").contains("xml"))),
      WB + "example.com&output=csv&fl=mimetype&limit=100", residual = true),
    Pin("wb statuscode =", "wayback", limit5(_.filter(wbEq && col("statuscode") === 200)),
      WB + "example.com&output=csv&limit=5&filter=statuscode:200", residual = false),
    Pin("wb statuscode !=", "wayback", limit5(_.filter(wbEq && col("statuscode") =!= 404)),
      WB + "example.com&output=csv&limit=5&filter=!statuscode:404", residual = false),
    Pin("wb mimetype =", "wayback", limit5(_.filter(wbEq && col("mimetype") === "text/html")),
      WB + "example.com&output=csv&limit=5&filter=mimetype:text/html", residual = false),
    Pin("wb mimetype !=", "wayback", limit5(_.filter(wbEq && col("mimetype") =!= "text/html")),
      WB + "example.com&output=csv&limit=5&filter=!mimetype:text/html", residual = false),
    Pin("wb statuscode IN", "wayback", limit5(_.filter(wbEq && col("statuscode").isin(200, 301))),
      WB + "example.com&output=csv&limit=5&filter=statuscode:(200|301)", residual = false),
    Pin("wb mimetype IN escapes", "wayback",
      limit5(_.filter(wbEq && col("mimetype").isin("text/html", "a.b"))),
      WB + "example.com&output=csv&limit=5&filter=mimetype:(text/html|a%5C.b)", residual = false),
    Pin("wb urlkey IN", "wayback", limit5(_.filter(wbEq && col("urlkey").isin("k1", "k2"))),
      WB + "example.com&output=csv&limit=5&filter=urlkey:(k1|k2)", residual = false),
    // ---- wayback: time ----------------------------------------------------
    Pin("wb timestamp >= and < are trusted", "wayback",
      limit5(_.filter(wbEq && col("timestamp") >= "2020-01-01 00:00:00" &&
        col("timestamp") < "2024-01-01 00:00:00")),
      WB + "example.com&output=csv&from=20200101&to=20240101&limit=5",
      residual = false),
    Pin("wb timestamp > and <=", "wayback",
      limit5(_.filter(wbEq && col("timestamp") > "2020-01-01 00:00:00" &&
        col("timestamp") <= "2024-01-01 00:00:00")),
      WB + "example.com&output=csv&from=20200101&to=20240101&limit=5",
      residual = false),
    Pin("wb year > and <", "wayback",
      limit5(_.filter(wbEq && col("year") > 2019 && col("year") < 2024)),
      WB + "example.com&output=csv&from=2020&to=2023&limit=5", residual = false),
    Pin("wb year >= and <=", "wayback",
      limit5(_.filter(wbEq && col("year") >= 2020 && col("year") <= 2023)),
      WB + "example.com&output=csv&from=2020&to=2023&limit=5", residual = false),
    Pin("wb year =", "wayback", limit5(_.filter(wbEq && col("year") === 2021)),
      WB + "example.com&output=csv&from=2021&to=2021&limit=5", residual = false),
    Pin("wb year IS NOT NULL alone stays residual", "wayback",
      limit5(_.filter(wbEq && col("year").isNotNull)),
      WB + "example.com&output=csv&fl=timestamp&limit=100", residual = true),
    Pin("wb month IS NOT NULL alone stays residual", "wayback",
      limit5(_.filter(wbEq && col("month").isNotNull)),
      WB + "example.com&output=csv&fl=timestamp&limit=100", residual = true),
    Pin("wb month IS NOT NULL rides a from/to", "wayback",
      limit5(_.filter(wbEq && col("month").isNotNull && col("year") >= 2020)),
      WB + "example.com&output=csv&from=2020&limit=5", residual = false),
    // ---- wayback: no arm / bookkeeping ------------------------------------
    Pin("wb digest = has no arm", "wayback", limit5(_.filter(wbEq && col("digest") === "ABCDEF123")),
      WB + "example.com&output=csv&fl=digest&limit=100", residual = true),
    Pin("wb length > has no arm", "wayback", limit5(_.filter(wbEq && col("length") > 1000L)),
      WB + "example.com&output=csv&fl=length&limit=100", residual = true),
    Pin("wb digest IS NOT NULL consumed", "wayback", limit5(_.filter(wbEq && col("digest").isNotNull)),
      WB + "example.com&output=csv&limit=5", residual = false),
    Pin("wb response IS NOT NULL stays residual", "wayback",
      limit5(_.filter(wbEq && col("response").isNotNull)),
      WB + "example.com&output=csv&fl=timestamp,original&limit=100", residual = true),
    Pin("wb OR has no arm", "wayback",
      limit5(_.filter(wbEq && (col("statuscode") === 200 || col("mimetype") === "text/html"))),
      WB + "example.com&output=csv&fl=mimetype,statuscode&limit=100", residual = true),
    // ---- common crawl: url slot -------------------------------------------
    Pin("cc url = converts wildcards", "commoncrawl", limit5(_.filter(col("url") === "example.com/%_x")),
      CC + "example.com/*?x&output=json&fl=url&limit=5", residual = false),
    Pin("cc url prefix", "commoncrawl", limit5(_.filter(col("url").startsWith("example.com/"))),
      CC + "example.com/*&output=json&fl=url&limit=5", residual = false),
    Pin("cc url suffix", "commoncrawl", limit5(_.filter(col("url").endsWith(".example.com/"))),
      CC + "*.example.com/&output=json&fl=url&limit=5", residual = false),
    Pin("cc url contains", "commoncrawl", limit5(_.filter(col("url").contains("example"))),
      CC + "*example*&output=json&fl=url&limit=5", residual = false),
    Pin("cc url NOT prefix", "commoncrawl",
      limit5(_.filter(ccEq && !col("url").startsWith("example.com/a.b"))),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=!~url:^example%5C.com/a%5C.b.*$",
      residual = false),
    Pin("cc url NOT contains", "commoncrawl", limit5(_.filter(ccEq && !col("url").contains("adm_in"))),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=!~url:^.*adm.in.*$",
      residual = false),
    Pin("cc url_like option converts wildcards", "commoncrawl", limit5(identity),
      CC + "example.com/*?&output=json&fl=url&limit=5", residual = false,
      Map("url_like" -> "example.com/%_")),
    Pin("cc extra_filters seed", "commoncrawl", limit5(_.filter(ccEq)),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=a:b&filter=!c:d",
      residual = false, Map("extra_filters" -> "a:b;!c:d")),
    Pin("cc pushed_url freezes the url slot", "commoncrawl",
      limit5(_.filter(col("url").startsWith("https://example.com"))),
      CC + "example.com/*/about&output=json&fl=url&limit=100", residual = true,
      Map("pushed_url" -> "example.com/*/about")),
    Pin("cc crawl_id =", "commoncrawl", limit5(_.filter(ccEq && col("crawl_id") === "CC-MAIN-2023-50")),
      "/CC-MAIN-2023-50-index?url=example.com/*&output=json&fl=url&limit=5", residual = false),
    // ---- common crawl: status / mime --------------------------------------
    Pin("cc statuscode =", "commoncrawl", limit5(_.filter(ccEq && col("statuscode") === 200)),
      CC + "example.com/*&output=json&fl=url&limit=5&filter==status:200", residual = false),
    Pin("cc statuscode !=", "commoncrawl", limit5(_.filter(ccEq && col("statuscode") =!= 404)),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=!status:404", residual = false),
    Pin("cc mimetype =", "commoncrawl", limit5(_.filter(ccEq && col("mimetype") === "text/html")),
      CC + "example.com/*&output=json&fl=url&limit=5&filter==mime:text/html", residual = false),
    Pin("cc mimetype !=", "commoncrawl", limit5(_.filter(ccEq && col("mimetype") =!= "text/html")),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=!mime:text/html", residual = false),
    Pin("cc statuscode IN", "commoncrawl", limit5(_.filter(ccEq && col("statuscode").isin(200, 301))),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=~status:(200|301)", residual = false),
    Pin("cc mimetype IN does not escape", "commoncrawl",
      limit5(_.filter(ccEq && col("mimetype").isin("text/html", "a.b"))),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=~mime:(text/html|a.b)",
      residual = false),
    Pin("cc mimetype prefix", "commoncrawl", limit5(_.filter(ccEq && col("mimetype").startsWith("text/"))),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=~mime:^text/.*", residual = false),
    Pin("cc mimetype suffix", "commoncrawl", limit5(_.filter(ccEq && col("mimetype").endsWith("+xml"))),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=~mime:.*%5C+xml$", residual = false),
    Pin("cc mimetype contains", "commoncrawl", limit5(_.filter(ccEq && col("mimetype").contains("htm"))),
      CC + "example.com/*&output=json&fl=url&limit=5&filter=~mime:.*htm.*", residual = false),
    // ---- common crawl: time is pushed AND kept ----------------------------
    Pin("cc timestamp >= and < stay residual", "commoncrawl",
      limit5(_.filter(ccEq && col("timestamp") >= "2024-01-01 00:00:00" &&
        col("timestamp") < "2024-02-01 00:00:00")),
      CC + "example.com/*&output=json&fl=timestamp&limit=100&from=20240101&to=20240201",
      residual = true),
    Pin("cc timestamp > and <= stay residual", "commoncrawl",
      limit5(_.filter(ccEq && col("timestamp") > "2024-01-01 00:00:00" &&
        col("timestamp") <= "2024-02-01 00:00:00")),
      CC + "example.com/*&output=json&fl=timestamp&limit=100&from=20240101&to=20240201",
      residual = true),
    // ---- common crawl: no arm / bookkeeping -------------------------------
    Pin("cc digest = has no arm", "commoncrawl", limit5(_.filter(ccEq && col("digest") === "SHA1AAA")),
      CC + "example.com/*&output=json&fl=digest&limit=100", residual = true),
    Pin("cc digest IS NOT NULL consumed", "commoncrawl", limit5(_.filter(ccEq && col("digest").isNotNull)),
      CC + "example.com/*&output=json&fl=url&limit=5", residual = false),
    Pin("cc response IS NOT NULL stays residual", "commoncrawl",
      limit5(_.filter(ccEq && col("response").isNotNull)),
      CC + "example.com/*&output=json&fl=filename,offset,length&limit=100", residual = true),
    Pin("cc warc IS NOT NULL stays residual", "commoncrawl",
      limit5(_.filter(ccEq && col("warc").isNotNull)),
      CC + "example.com/*&output=json&fl=filename,offset,length&limit=100", residual = true),
    Pin("cc OR has no arm", "commoncrawl",
      limit5(_.filter(ccEq && (col("statuscode") === 200 || col("mimetype") === "text/html"))),
      CC + "example.com/*&output=json&fl=mime,status&limit=100", residual = true)
  )

  pushdownMatrix.foreach { p =>
    test(s"pushdown matrix: ${p.name}") {
      val df = p.q(debugRead(p.src, p.opts))
      assert(hasResidualFilter(df) == p.residual, df.queryExecution.sparkPlan.treeString)
      assert(cdxUrls(df) == Seq(p.url))
    }
  }

  test("pushdown matrix: wayback TopN on timestamp DESC -> fastLatest, sort kept") {
    val df = debugRead("wayback", Map.empty).filter(wbEq)
      .orderBy(col("timestamp").desc).limit(10)
    assert(cdxUrls(df) == Seq(WB + "example.com&output=csv&fl=timestamp&fastLatest=true&limit=-10"))
    assert(df.queryExecution.sparkPlan.collect { case s: TakeOrderedAndProjectExec => s }.nonEmpty)
  }

  test("pushdown matrix: wayback TopN on another column pushes the limit, sort kept") {
    val df = debugRead("wayback", Map.empty).filter(wbEq).orderBy(col("url")).limit(4)
    assert(cdxUrls(df) == Seq(WB + "example.com&output=csv&fl=original&limit=4"))
    assert(df.queryExecution.sparkPlan.collect { case s: TakeOrderedAndProjectExec => s }.nonEmpty)
  }

  test("pushdown matrix: wayback OFFSET + LIMIT") {
    val df = debugRead("wayback", Map.empty).filter(wbEq).offset(50).limit(10)
    assert(cdxUrls(df) == Seq(WB + "example.com&output=csv&limit=10&offset=50"))
    assert(df.queryExecution.sparkPlan.collect { case l: GlobalLimitExec => l }.isEmpty)
  }

  test("partition plan: wayback offset chunks sum exactly to the limit") {
    val df = debugRead("wayback", Map("partitions" -> "3")).filter(wbEq)
      .limit(10).select(col("url"), col("cdx_url"))
    assert(scanPartitions(df) == 3)
    assert(rowUrls(df).sorted == Seq(
      WB + "example.com&output=csv&fl=original&limit=2&offset=8",
      WB + "example.com&output=csv&fl=original&limit=4",
      WB + "example.com&output=csv&fl=original&limit=4&offset=4"))
    // the LIMIT node was deleted: the stub ignores limit=, so all rows come back
    assert(df.collect().length == 9)
    // a limit smaller than the partition count drops the empty chunks
    val small = debugRead("wayback", Map("partitions" -> "3")).filter(wbEq)
      .offset(5).limit(2).select(col("url"), col("cdx_url"))
    assert(scanPartitions(small) == 2)
    assert(rowUrls(small).sorted == Seq(
      WB + "example.com&output=csv&fl=original&limit=1&offset=5",
      WB + "example.com&output=csv&fl=original&limit=1&offset=6"))
    // a cdx_url-only debug scan never shards
    assert(scanPartitions(debugRead("wayback", Map("partitions" -> "3"))
      .filter(wbEq).limit(10).select(col("cdx_url"))) == 1)
  }

  test("partition plan: commoncrawl crawl_id IN divides a pushed limit, rounding up") {
    val ids = Seq("CC-MAIN-2024-46", "CC-MAIN-2024-42", "CC-MAIN-2024-38")
    val df = debugRead("commoncrawl", Map.empty)
      .filter(ccEq && col("crawl_id").isin(ids: _*)).limit(10)
    assert(scanPartitions(df) == 3)
    assert(cdxUrls(df).sorted == ids.sorted.map(c =>
      s"/$c-index?url=example.com/*&output=json&fl=url&limit=4"))
    // without a pushed LIMIT every crawl keeps the full max_results
    val unlimited = debugRead("commoncrawl", Map("max_results" -> "7"))
      .filter(ccEq && col("crawl_id").isin(ids.take(2): _*))
    assert(cdxUrls(unlimited).sorted == ids.take(2).sorted.map(c =>
      s"/$c-index?url=example.com/*&output=json&fl=url&limit=7"))
  }

  test("partition plan: commoncrawl page shards report the unpaged cdx_url") {
    val df = debugRead("commoncrawl", Map("partitions" -> "3"))
      .filter(ccEq).limit(5).select(col("url"), col("cdx_url"))
    assert(scanPartitions(df) == 3)
    assert(rowUrls(df) == Seq(CC + "example.com/*&output=json&fl=url&limit=5"))
    // a cdx_url-only debug scan skips the page probe and never shards
    assert(scanPartitions(debugRead("commoncrawl", Map("partitions" -> "3"))
      .filter(ccEq).limit(5).select(col("cdx_url"))) == 1)
  }

  // ---- d1 -------------------------------------------------------------
  def d1Reader = spark.read.format("d1")
    .option("api_base", s"${stub.base}/client/v4")
    .option("account_id", "acct").option("api_token", "tok")
    .option("database_id", "11111111-2222-3333-4444-555555555555")

  test("d1 scan: affinity schema + value conversion + NULLs") {
    val df = d1Reader.option("table", "users").load()
    assert(df.schema.simpleString ==
      "struct<id:bigint,name:string,active:boolean,balance:double>")
    val rows = df.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alice" &&
      rows(0).getBoolean(2) && rows(0).getDouble(3) == 10.5)
    // row 4 has JSON nulls -> "" -> SQL NULL
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2) && rows(3).isNullAt(3))
    // JSON false -> "0" -> boolean false
    assert(!rows(1).getBoolean(2))
  }

  test("d1 scan: filter + limit pushdown build remote SQL") {
    stub.requests.clear()
    val df = d1Reader.option("table", "users").load()
      .filter(col("active") === true)
      .limit(1)
    val rows = df.collect()
    assert(rows.length == 1)
    val sqls = stub.requests.toArray.map(_.toString).filter(_.contains("SELECT * FROM users"))
    assert(sqls.exists(s => s.contains("WHERE") && s.contains("active = 1") && s.contains("LIMIT 1")),
      sqls.mkString(";"))
  }

  test("d1 query passthrough: all-varchar schema in first-row order") {
    val df = spark.read.format("d1query")
      .option("api_base", s"${stub.base}/client/v4")
      .option("account_id", "acct").option("api_token", "tok")
      .option("database_id", "11111111-2222-3333-4444-555555555555")
      .option("query", "SELECT * FROM orders JOIN users ON user_id = id")
      .load()
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.schema.fieldNames.toSeq == Seq("id", "user_id", "status", "total"))
    assert(df.count() == 2)
  }

  // the secret registry is JVM-global: every secret a test registers is
  // dropped again, or a later suite's default-name lookup would find it
  test("d1 catalog: list + load + query through catalog") {
    Secrets.register(Secrets.Secret("cat_test", "d1", "acct", "tok"))
    try {
      spark.conf.set("spark.sql.catalog.mydb", "graft.sources.d1.D1Catalog")
      spark.conf.set("spark.sql.catalog.mydb.secret", "cat_test")
      spark.conf.set("spark.sql.catalog.mydb.database_id", "11111111-2222-3333-4444-555555555555")
      spark.conf.set("spark.sql.catalog.mydb.api_base", s"${stub.base}/client/v4")
      val tables = spark.sql("SHOW TABLES IN mydb.main").collect().map(_.getString(1)).toSet
      assert(tables == Set("users", "orders")) // internal tables filtered
      val n = spark.sql("SELECT count(*) AS n FROM mydb.main.users WHERE active = true").collect()
      assert(n.head.getLong(0) == 2L)
    } finally Secrets.drop("d1", "cat_test")
  }

  test("d1 metadata + execute + batch session") {
    Secrets.register(Secrets.Secret("d1", "d1", "acct", "tok"))
    try {
      val dbs = graft.sources.d1.D1.databases(spark, apiBase = s"${stub.base}/client/v4")
      assert(dbs.collect().map(_.getString(1)).toSet == Set("my-database", "other-db"))
      val tbls = graft.sources.d1.D1.tables(spark,
        "11111111-2222-3333-4444-555555555555", apiBase = s"${stub.base}/client/v4")
      assert(tbls.collect().map(_.getString(1)).toSet == Set("users", "orders"))
      val changes = graft.sources.d1.D1.execute("UPDATE users SET active = 1",
        None, "11111111-2222-3333-4444-555555555555", apiBase = s"${stub.base}/client/v4")
      assert(changes == 1L)
      // batch session: writes buffer, commit posts ONE batch
      stub.requests.clear()
      val sess = graft.sources.d1.D1.batchSession(None,
        "11111111-2222-3333-4444-555555555555", apiBase = s"${stub.base}/client/v4")
      sess.begin()
      sess.execute("INSERT INTO logs VALUES (1, 'a')")
      sess.execute("INSERT INTO logs VALUES (2, 'b')")
      assert(sess.pendingStatements.size == 2)
      assert(stub.requests.toArray.count(_.toString.contains("/query")) == 0)
      sess.commit()
      val batchReqs = stub.requests.toArray.map(_.toString).filter(_.contains("INSERT INTO logs"))
      assert(batchReqs.length == 1) // one HTTP round trip for both statements
    } finally Secrets.drop("d1", "d1")
  }

  test("d1 write path: df.write.format(d1) batches inserts") {
    stub.requests.clear()
    import spark.implicits._
    Seq((100L, "dave", true, 1.0), (101L, "erin", false, 2.0))
      .toDF("id", "name", "active", "balance")
      .write.format("d1")
      .option("api_base", s"${stub.base}/client/v4")
      .option("account_id", "acct").option("api_token", "tok")
      .option("database_id", "11111111-2222-3333-4444-555555555555")
      .option("table", "users")
      .mode("append").save()
    import scala.jdk.CollectionConverters._
    val batches = stub.requests.asScala.map(_._2).filter(_.contains("INSERT INTO users"))
    assert(batches.nonEmpty)
    assert(batches.exists(_.contains("'dave'")))
  }

  private val d1Db = "11111111-2222-3333-4444-555555555555"

  private def d1Sqls(table: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    stub.requests.asScala.map(_._2).filter(_.contains(s"SELECT * FROM $table")).toSeq
  }

  test("d1 scan: a sorted LIMIT is not pushed without its ORDER BY") {
    stub.requests.clear()
    val rows = d1Reader.option("table", "users").load()
      .orderBy(col("id").desc).limit(1).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4L))
    val sqls = d1Sqls("users")
    assert(sqls.nonEmpty && sqls.forall(s => !s.contains("LIMIT") || s.contains("ORDER BY")),
      sqls.mkString(";"))
  }

  test("d1 query passthrough: each load runs the query once and sees the rows as they are then") {
    Secrets.register(Secrets.Secret("d1q_test", "d1", "acct", "tok"))
    try {
      val api = s"${stub.base}/client/v4"
      def exec(sql: String) = graft.sources.d1.D1.execute(sql, Some("d1q_test"), d1Db, api)
      def kv = spark.read.format("d1query").option("api_base", api)
        .option("secret", "d1q_test").option("database_id", d1Db)
        .option("query", "SELECT * FROM kv_test").load()
      def pairs(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      exec("DELETE FROM kv_test")
      exec("INSERT INTO kv_test (k, v) VALUES ('a', 1)")
      assert(pairs(kv) == Seq(("a", "1")))
      exec("INSERT INTO kv_test (k, v) VALUES ('b', 2)")
      stub.requests.clear()
      val df = kv
      assert(df.count() == 2L)
      assert(pairs(df) == Seq(("a", "1"), ("b", "2")))
      assert(d1Sqls("kv_test").size == 1, "one load posts its query once")
    } finally Secrets.drop("d1", "d1q_test")
  }

  test("d1 literal: a TIMESTAMP renders the same when written and when pushed") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types._
    import graft.sources.d1.{D1DataWriter, D1DeferredStatements, D1Scan, D1ScanBuilder}
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    val cfg = graft.core.D1Client.Config("acct", "tok", d1Db, s"${stub.base}/client/v4")
    def pushed(v: Any): String = {
      val b = new D1ScanBuilder(cfg, "events", schema)
      assert(b.pushFilters(Array(EqualTo("ts", v))).isEmpty)
      b.build().asInstanceOf[D1Scan].remoteSql
    }
    def written(micros: Long): String = {
      val w = new D1DataWriter(cfg, "events", schema, deferred = true)
      w.write(InternalRow(1L, micros))
      w.commit().asInstanceOf[D1DeferredStatements].statements.head
    }
    for ((text, lit) <- Seq(
        "2024-01-01T10:00:00Z" -> "'2024-01-01 10:00:00'",
        "2024-01-01T10:00:00.123456Z" -> "'2024-01-01 10:00:00.123456'",
        "1969-12-31T23:59:59.500Z" -> "'1969-12-31 23:59:59.500000'")) {
      val at = java.time.Instant.parse(text)
      val micros = at.getEpochSecond * 1000000L + at.getNano / 1000
      assert(written(micros) == s"INSERT INTO events (id, ts) VALUES (1, $lit)")
      assert(pushed(java.sql.Timestamp.from(at)) == s"SELECT * FROM events WHERE ts = $lit")
      assert(pushed(at) == s"SELECT * FROM events WHERE ts = $lit")
    }
  }

  test("d1 round trip: a sub-second TIMESTAMP written through format(d1) reads back equal") {
    // a one-table D1, ts_test(id INTEGER, ts TIMESTAMP), that stores the
    // literals it is sent and serves them back as text
    val stored = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val Insert = "INSERT INTO ts_test \\(id, ts\\) VALUES \\((\\d+), '([^']*)'\\)".r
    def result(rows: String) =
      s"""{"results":[$rows],"success":true,"meta":{"changes":0}}"""
    val d1 = new graft.fixtures.Stub().start()
    d1.routeText("/client/v4/accounts/") { ex =>
      val body = d1.body(ex)
      val sqls = "\"sql\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
        .findAllMatchIn(body).map(_.group(1)).toSeq
      val results = sqls.map {
        case Insert(id, ts) => stored.add(s"""{"id":$id,"ts":"$ts"}"""); result("")
        case s if s.startsWith("PRAGMA table_info(ts_test)") => result(
          """{"cid":0,"name":"id","type":"INTEGER","notnull":0,"dflt_value":null,"pk":1},""" +
            """{"cid":1,"name":"ts","type":"TIMESTAMP","notnull":0,"dflt_value":null,"pk":0}""")
        case s if s.startsWith("SELECT * FROM ts_test") =>
          result(stored.toArray.mkString(","))
        case _ => result("")
      }
      s"""{"success":true,"errors":[],"result":[${results.mkString(",")}]}"""
    }
    try {
      import spark.implicits._
      val opts = Map("api_base" -> s"${d1.base}/client/v4", "account_id" -> "acct",
        "api_token" -> "tok", "database_id" -> d1Db, "table" -> "ts_test")
      val written = Seq("2024-01-01T10:00:00.500Z", "2024-01-01T10:00:00.123456Z",
        "1969-12-31T23:59:59.500Z", "2024-01-01T10:00:00Z").map(java.time.Instant.parse)
      written.zipWithIndex.map { case (t, i) => (i.toLong, java.sql.Timestamp.from(t)) }
        .toDF("id", "ts").write.format("d1").options(opts).mode("append").save()
      assert(stored.size == 4, stored.toString)
      val read = spark.read.format("d1").options(opts).load().orderBy("id").collect()
        .map(_.getTimestamp(1).toInstant).toSeq
      assert(read == written)
    } finally d1.stop()
  }

  test("d1 requests per op: a load fetches the schema once; scan 2, append 3, txn 1") {
    Secrets.register(Secrets.Secret("d1req_test", "d1", "acct", "tok"))
    try {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val api = s"${stub.base}/client/v4"
      val opts = Map("api_base" -> api, "secret" -> "d1req_test", "database_id" -> d1Db,
        "table" -> "kv_test")
      def exec(sql: String) = graft.sources.d1.D1.execute(sql, Some("d1req_test"), d1Db, api)
      // the D1 request bodies one operation posts
      def posts(op: => Any): Seq[String] = {
        stub.requests.clear()
        op
        stub.requests.asScala.collect { case (p, body) if p.contains("/query") => body }.toSeq
      }
      exec("DELETE FROM kv_test")
      val load = posts(spark.read.format("d1").options(opts).load())
      assert(load.size == 1 && load.head.contains("PRAGMA table_info(kv_test)"), load)
      val append = posts((0 until 100).map(i => (s"r$i", i.toLong)).toDF("k", "v")
        .coalesce(1).write.format("d1").options(opts).mode("append").save())
      assert(append.size == 3, append) // the schema, then two batches of 50
      val scan = posts(spark.read.format("d1").options(opts).load()
        .filter(col("v") >= 10 && col("v") < 20).limit(5).collect())
      assert(scan.size == 2 && scan.last.contains("SELECT * FROM kv_test"), scan)
      val txn = posts {
        spark.sql("BEGIN")
        (0 until 8).foreach(i => exec(s"INSERT INTO kv_test (k, v) VALUES ('t$i', $i)"))
        spark.sql("COMMIT")
      }
      assert(txn.size == 1, txn) // one batch of 8 at COMMIT
      assert(spark.read.format("d1").options(opts).load().count() == 108L)
    } finally Secrets.drop("d1", "d1req_test")
  }

  test("d1 secret: a named secret that does not exist fails, default secret or not") {
    val saved = Secrets.lookup("d1", "__default_d1")
    Secrets.register(Secrets.Secret("__default_d1", "d1", "acct", "tok"))
    val want = "D1 secret 'no_such' not found. Create it with: CREATE SECRET no_such (TYPE d1, ...)"
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    try {
      val viaSource = intercept[Exception] {
        spark.read.format("d1").option("api_base", s"${stub.base}/client/v4")
          .option("secret", "no_such").option("database_id", d1Db)
          .option("table", "users").load().collect()
      }
      assert(messages(viaSource).contains(want), messages(viaSource))
      spark.conf.set("spark.sql.catalog.nosuchdb", "graft.sources.d1.D1Catalog")
      spark.conf.set("spark.sql.catalog.nosuchdb.secret", "no_such")
      spark.conf.set("spark.sql.catalog.nosuchdb.database_id", d1Db)
      spark.conf.set("spark.sql.catalog.nosuchdb.api_base", s"${stub.base}/client/v4")
      val viaCatalog = intercept[Exception](spark.sql("SHOW TABLES IN nosuchdb.main").collect())
      assert(messages(viaCatalog).contains(want), messages(viaCatalog))
    } finally {
      saved.fold(Secrets.drop("d1", "__default_d1"))(Secrets.register)
      Seq("", ".secret", ".database_id", ".api_base")
        .foreach(k => spark.conf.unset(s"spark.sql.catalog.nosuchdb$k"))
    }
  }

  // ---- r2 -------------------------------------------------------------
  test("r2 sql passthrough surfaces") {
    Secrets.register(Secrets.Secret("r2", "r2_sql", "acct", "tok"))
    val df = graft.sources.r2.R2.sqlQuery(spark, "r2", "my-bucket",
      "SELECT * FROM orders", apiBase = stub.base)
    assert(df.columns.toSeq == Seq("response"))
    assert(df.collect().head.getString(0).contains("\"results\""))
    val viaFormat = spark.read.format("r2sql")
      .option("secret", "r2").option("bucket", "b")
      .option("function", "databases").option("api_base", stub.base)
      .load()
    assert(viaFormat.columns.toSeq == Seq("namespace"))
    assert(viaFormat.count() == 1)
  }
}
