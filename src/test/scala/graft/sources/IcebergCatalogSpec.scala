package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.fixtures.IcebergFixture

/** Iceberg-on-R2 read path: REST catalog protocol → table metadata →
  * Avro manifests → Spark's own parquet scan over r2:// objects. The
  * whole chain runs against the in-process stub (zero egress); the
  * fixture writes spec-shaped metadata (field names per the public
  * Iceberg table spec) since no Iceberg writer exists in this
  * environment.
  */
class IcebergCatalogSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  lazy val stub = graft.queries.Connectors.stub

  private def setup(): Unit = {
    IcebergFixture.installRest(stub)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.r2.impl", "graft.sources.r2.R2FileSystem")
    hc.set("fs.r2.impl.disable.cache", "true")
    hc.set("fs.r2.endpoint", stub.base)
    spark.conf.set("spark.sql.catalog.lake",
      "graft.sources.iceberg.IcebergRestCatalog")
    spark.conf.set("spark.sql.catalog.lake.uri", s"${stub.base}/iceberg")
    if (!IcebergFixture.tables.contains(("tpch", "nation")))
      IcebergFixture.publish(stub, "tpch", "nation",
        graft.queries.load(spark, "/root/testdata/sf0.001", "nation"))
  }

  test("SELECT over the REST catalog matches the source table, with parquet pushdown") {
    setup()
    stub.requests.clear()
    val df = spark.sql(
      "SELECT n_nationkey, n_name FROM lake.tpch.nation WHERE n_regionkey = 2 ORDER BY n_nationkey")
    val got = df.collect()
    val want = graft.queries.load(spark, "/root/testdata/sf0.001", "nation")
      .filter(col("n_regionkey") === 2)
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey")).collect()
    assert(got.nonEmpty && got.sameElements(want))
    // filter reached the parquet scan (Iceberg layer planned files only;
    // Spark's source did the pushdown)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,2)]"),
      plan.take(1500))
    // data files were read with byte ranges, never whole objects
    val objReqs = stub.requests.toArray.map(_.toString)
      .filter(_.contains("/r2-lake/iceberg/tpch/nation/data/"))
    assert(objReqs.nonEmpty && objReqs.forall(_.contains("#Range:bytes=")),
      objReqs.mkString("\n"))
  }

  test("schema comes from table metadata, not file inference") {
    setup()
    val schema = spark.table("lake.tpch.nation").schema
    assert(schema.fieldNames.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
  }

  test("SHOW NAMESPACES / SHOW TABLES surface the catalog listing") {
    setup()
    val ns = spark.sql("SHOW NAMESPACES IN lake").collect().map(_.getString(0))
    assert(ns.contains("tpch"), ns.mkString(","))
    val tbls = spark.sql("SHOW TABLES IN lake.tpch").collect().map(_.getString(1))
    assert(tbls.contains("nation"), tbls.mkString(","))
  }

  test("multi-snapshot table reads the CURRENT snapshot only") {
    setup()
    IcebergFixture.publish(stub, "tpch", "region",
      graft.queries.load(spark, "/root/testdata/sf0.001", "region"),
      extraSnapshotOfSameData = true)
    // two snapshots exist; current (id=2) lists the same 5 rows once —
    // a reader that unioned all snapshots' manifests would see 10
    val n = spark.sql("SELECT count(*) AS n FROM lake.tpch.region").collect()(0).getLong(0)
    assert(n == 5L, s"expected 5 rows from the current snapshot, got $n")
  }

  test("delete manifests (merge-on-read) are rejected in-band, not silently misread") {
    setup()
    IcebergFixture.publishWithDeletes(stub, "tpch", "nation_mor",
      graft.queries.load(spark, "/root/testdata/sf0.001", "nation"))
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM lake.tpch.nation_mor").collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("delete manifests"))),
      e.toString)
  }

  test("merge-on-read: Iceberg.read applies position deletes via the metadata anti-join") {
    setup()
    val nation = graft.queries.load(spark, "/root/testdata/sf0.001", "nation")
    // positions are 0-based row indexes of the single data file, which
    // preserves the source row order — delete rows 0, 3, 7
    IcebergFixture.publishWithPositionDeletes(stub, "tpch", "nation_pd",
      nation, Seq(0L, 3L, 7L))
    val keysInOrder = nation.collect().map(_.getInt(0))
    val expected = keysInOrder.zipWithIndex
      .filterNot { case (_, i) => Set(0, 3, 7)(i) }.map(_._1).sorted
    val got = graft.sources.iceberg.Iceberg
      .read(spark, s"${stub.base}/iceberg", Seq("tpch"), "nation_pd")
      .select(col("n_nationkey")).collect().map(_.getInt(0)).sorted
    assert(got.sameElements(expected),
      s"got ${got.mkString(",")} expected ${expected.mkString(",")}")
  }

  test("merge-on-read: equality deletes mask matching rows (null-safe)") {
    setup()
    val nation = graft.queries.load(spark, "/root/testdata/sf0.001", "nation")
    import spark.implicits._
    IcebergFixture.publishWithEqualityDeletes(stub, "tpch", "nation_eq",
      nation, Seq(2).toDF("n_regionkey"))
    val got = graft.sources.iceberg.Iceberg
      .read(spark, s"${stub.base}/iceberg", Seq("tpch"), "nation_eq")
      .select(col("n_nationkey")).collect().map(_.getInt(0)).sorted
    val expected = nation.filter(col("n_regionkey") =!= 2)
      .select(col("n_nationkey")).collect().map(_.getInt(0)).sorted
    assert(got.sameElements(expected),
      s"got ${got.mkString(",")} expected ${expected.mkString(",")}")
  }

  test("merge-on-read: equality deletes scope by sequence number — re-inserted rows survive") {
    setup()
    val nation = graft.queries.load(spark, "/root/testdata/sf0.001", "nation")
    import spark.implicits._
    // history: insert all rows (seq 1) → equality-delete regionkey 2
    // (seq 2) → re-insert the deleted rows (seq 3). Spec-correct reads
    // return the FULL table: the delete masks only seq-1 rows, and the
    // seq-3 re-inserts are strictly newer. A reader that applies deletes
    // globally drops the re-inserts; one that ignores sequence grouping
    // but unions naively duplicates them.
    val reinserted = nation.filter(col("n_regionkey") === 2)
    IcebergFixture.publishDeleteThenReinsert(stub, "tpch", "nation_seq",
      nation, Seq(2).toDF("n_regionkey"), reinserted)
    val got = graft.sources.iceberg.Iceberg
      .read(spark, s"${stub.base}/iceberg", Seq("tpch"), "nation_seq")
      .select(col("n_nationkey")).collect().map(_.getInt(0)).sorted
    val expected = nation.select(col("n_nationkey"))
      .collect().map(_.getInt(0)).sorted
    assert(got.sameElements(expected),
      s"got ${got.mkString(",")} expected ${expected.mkString(",")}")
  }

  test("time travel: VERSION AS OF reads the named snapshot through SQL") {
    setup()
    val nation = graft.queries.load(spark, "/root/testdata/sf0.001", "nation")
    IcebergFixture.publishSnapshots(stub, "tpch", "nation_tt",
      Seq(nation, nation.filter(col("n_regionkey") === 2)))
    val current = spark.sql("SELECT count(*) AS n FROM lake.tpch.nation_tt")
      .collect()(0).getLong(0)
    val v1 = spark.sql("SELECT count(*) AS n FROM lake.tpch.nation_tt VERSION AS OF 1")
      .collect()(0).getLong(0)
    val full = nation.count()
    val filtered = nation.filter(col("n_regionkey") === 2).count()
    assert(current == filtered && v1 == full, s"current=$current v1=$v1")
    // same via the DataFrame API
    val v1api = graft.sources.iceberg.Iceberg
      .read(spark, s"${stub.base}/iceberg", Seq("tpch"), "nation_tt",
        snapshotId = Some(1L)).count()
    assert(v1api == full, s"v1api=$v1api")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM lake.tpch.nation_tt VERSION AS OF 99").collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("no snapshot 99"))), e.toString)
  }

  test("merge-on-read table still fails in-band through the SQL catalog path") {
    setup()
    IcebergFixture.publishWithPositionDeletes(stub, "tpch", "nation_pd2",
      graft.queries.load(spark, "/root/testdata/sf0.001", "nation"), Seq(1L))
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM lake.tpch.nation_pd2").collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("delete manifests"))), e.toString)
  }

  test("manifest-bounds file pruning: a selective filter plans only in-range files") {
    import scala.jdk.CollectionConverters._
    setup()
    val customer = graft.queries.load(spark, "/root/testdata/sf0.001", "customer")
    // 3 range files on c_custkey, each manifest entry carrying min/max
    // bounds per the spec's single-value serialization
    IcebergFixture.publishSnapshots(stub, "tpch", "customer_b",
      Seq(customer), rangeFiles = Some(("c_custkey", 3)), withBounds = true)
    val dataKeys = stub.objects.keys.filter(_.startsWith("iceberg/tpch/customer_b/data/")).toSeq
    assert(dataKeys.size == 3, dataKeys.mkString(","))

    stub.requests.clear()
    val hit = spark.sql(
      "SELECT c_custkey, c_name FROM lake.tpch.customer_b WHERE c_custkey = 7")
      .collect()
    val want = customer.filter(col("c_custkey") === 7)
      .select(col("c_custkey"), col("c_name")).collect()
    assert(hit.sameElements(want))
    // only the single file whose [lower, upper] covers key 7 was touched
    val touched = stub.requests.toArray.map(_.toString)
      .filter(_.contains("/r2-lake/iceberg/tpch/customer_b/data/"))
      .flatMap(r => "part-s1-(\\d+)\\.parquet".r.findFirstIn(r)).distinct
    assert(touched.length == 1, s"touched: ${touched.mkString(",")}")
    // every r2-lake request as (object key, is a LIST): a LIST names its
    // key URL-encoded in `prefix=`, a GET in its path
    val lake = stub.requests.asScala.map(_._1.takeWhile(_ != '#')).toSeq.flatMap { r =>
      if (r.startsWith("/r2-lake?"))
        "[?&]prefix=([^&]*)".r.findFirstMatchIn(r)
          .map(m => (java.net.URLDecoder.decode(m.group(1), "UTF-8"), true))
      else if (r.startsWith("/r2-lake/")) Some((r.stripPrefix("/r2-lake/"), false))
      else None
    }
    // a request reaches a key when it names the key (or a path below it)
    // or lists a prefix of it
    def reaches(r: (String, Boolean), key: String) =
      r._1.startsWith(key) || (r._2 && key.startsWith(r._1))
    // each metadata object costs one LIST (the open) and one GET
    for (obj <- Seq("v1.metadata.json", "snap-1.avro", "manifest-1-0.avro")) {
      val key = s"iceberg/tpch/customer_b/metadata/$obj"
      val lists = lake.count(r => r._2 && reaches(r, key))
      val gets = lake.count(r => !r._2 && reaches(r, key))
      assert((lists, gets) == ((1, 1)), s"$obj: $lists LIST, $gets GET")
    }

    // range predicate: >= max key region → only the last file
    stub.requests.clear()
    val maxKey = customer.agg(max(col("c_custkey"))).collect()(0).getLong(0)
    val topN = spark.sql(
      s"SELECT count(*) AS n FROM lake.tpch.customer_b WHERE c_custkey >= ${maxKey - 1}")
      .collect()(0).getLong(0)
    assert(topN == customer.filter(col("c_custkey") >= maxKey - 1).count())
    val touched2 = stub.requests.toArray.map(_.toString)
      .filter(_.contains("/r2-lake/iceberg/tpch/customer_b/data/"))
      .flatMap(r => "part-s1-(\\d+)\\.parquet".r.findFirstIn(r)).distinct
    assert(touched2.length == 1, s"touched: ${touched2.mkString(",")}")

    // no filter → all files planned, full row set
    assert(spark.sql("SELECT count(*) AS n FROM lake.tpch.customer_b")
      .collect()(0).getLong(0) == customer.count())
  }

  test("a range-split publish writes the same files whatever Spark work ran before it") {
    setup()
    // perfbench's shape: 1,500 keyed rows in 4 range files
    val keyed = spark.range(1500).select(col("id").as("k"), (col("id") * 7 % 100).as("v"))
    // (rows, min key, max key) of each data file, read back off the stub
    def publishSplit(tbl: String): Seq[(Long, Long, Long)] = {
      IcebergFixture.publishSnapshots(stub, "tpch", tbl, Seq(keyed),
        rangeFiles = Some(("k", 4)), withBounds = true)
      (0 until 4).map { i =>
        val r = spark.read.parquet(s"r2://r2-lake/iceberg/tpch/$tbl/data/part-s1-$i.parquet")
          .agg(count(lit(1)), min(col("k")), max(col("k"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
    }
    val first = publishSplit("keyed_split_a")
    // unrelated Spark work in between: later RDD ids, other samples
    (3 to 5).foreach(n => spark.range(5000).repartitionByRange(n, col("id")).count())
    val second = publishSplit("keyed_split_b")
    assert(first == second)
    assert(first.map(_._1).sum == 1500L)
    // ascending, non-overlapping key ranges
    assert(first.sliding(2).forall { case Seq(a, b) => a._3 < b._2 }, first.toString)
  }

  test("schema evolution: rename resolves by field id, added column null for old files") {
    setup()
    val nation = graft.queries.load(spark, "/root/testdata/sf0.001", "nation")
    IcebergFixture.publishEvolved(stub, "tpch", "nation_evo",
      nation.filter(col("n_nationkey") < 13)
        .select(col("n_nationkey"), col("n_name").as("nation_label")),
      nation.filter(col("n_nationkey") >= 13)
        .select(col("n_nationkey"), col("n_name").as("label"),
          col("n_regionkey").as("region")))
    // current schema exposes the POST-evolution names
    assert(spark.table("lake.tpch.nation_evo").schema.fieldNames.toSeq ==
      Seq("n_nationkey", "label", "region"))
    val got = spark.sql(
      "SELECT n_nationkey, label, region FROM lake.tpch.nation_evo ORDER BY n_nationkey")
      .collect()
    val want = nation.select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey")).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getInt(0) == w.getInt(0))
      // the renamed column binds to the old file's physical column via
      // the unchanged field id — a name-matching reader returns null here
      assert(g.getString(1) == w.getString(1), s"label mismatch at ${g.getInt(0)}")
      if (g.getInt(0) < 13) assert(g.isNullAt(2), s"region must be null pre-evolution")
      else assert(!g.isNullAt(2), s"region must be set post-evolution")
    }
  }

  test("schema evolution: time travel to the pre-evolution snapshot") {
    setup()
    // nation_evo published by the previous test (same fixture registry);
    // snapshot 1 holds only the pre-rename file — read through the
    // CURRENT schema its renamed column still resolves and the added
    // column is all-null
    val rows = spark.sql(
      "SELECT n_nationkey, label, region FROM lake.tpch.nation_evo VERSION AS OF 1")
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getInt(0) < 13 &&
      !r.isNullAt(1) && r.isNullAt(2)))
  }

  test("writes are rejected: the catalog is read-only") {
    setup()
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE lake.tpch.t2 (id INT)")
    }
    assert(e.getMessage.contains("read-only") ||
      Option(e.getCause).exists(_.getMessage.contains("read-only")), e.toString)
  }

  test("ATTACH ... (TYPE iceberg) registers the catalog via SQL alone") {
    setup()
    spark.sql(s"ATTACH '${stub.base}/iceberg' AS lake2 (TYPE iceberg)")
    val n = spark.sql("SELECT count(*) AS n FROM lake2.tpch.nation")
      .collect()(0).getLong(0)
    assert(n == 25L, s"got $n")
  }

  test("unknown table errors with the catalog's NoSuchTable surface") {
    setup()
    val e = intercept[Exception] {
      spark.table("lake.tpch.nope").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
  }

  test("tableExists is false for a missing table only: another failure status surfaces") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.catalog.Identifier
    val rest = new graft.fixtures.Stub().start()
    rest.route("/ice/v1/namespaces/a/tables/") { ex =>
      if (ex.getRequestURI.getPath.endsWith("/gone")) (404, "no such table".getBytes("UTF-8"))
      else (503, "unavailable".getBytes("UTF-8"))
    }
    try {
      val cat = new graft.sources.iceberg.IcebergRestCatalog
      cat.initialize("probe", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("uri" -> s"${rest.base}/ice").asJava))
      assert(!cat.tableExists(Identifier.of(Array("a"), "gone")))
      val e = intercept[Exception](cat.tableExists(Identifier.of(Array("a"), "busy")))
      assert(e.getMessage.contains("HTTP 503"), e.getMessage)
    } finally rest.stop()
  }

  test("a two-level namespace reaches the REST catalog joined with %1F") {
    import scala.jdk.CollectionConverters._
    val rest = new graft.fixtures.Stub().start()
    rest.route("/ice/v1/") { ex =>
      if (ex.getRequestURI.getPath.endsWith("/tables")) (200, """{"identifiers":[]}""".getBytes("UTF-8"))
      else (404, "not found".getBytes("UTF-8"))
    }
    try {
      val uri = s"${rest.base}/ice"
      spark.conf.set("spark.sql.catalog.twolevel", "graft.sources.iceberg.IcebergRestCatalog")
      spark.conf.set("spark.sql.catalog.twolevel.uri", uri)
      intercept[Exception](graft.sources.iceberg.Iceberg.read(spark, uri, Seq("a", "b"), "t"))
      intercept[Exception](spark.sql("SELECT * FROM twolevel.a.b.t").collect())
      assert(spark.sql("SHOW TABLES IN twolevel.a.b").collect().isEmpty)
      val paths = rest.requests.asScala.map(_._1).filter(_.contains("/namespaces/")).toSeq
      assert(paths.count(_.endsWith("/ice/v1/namespaces/a%1Fb/tables/t")) == 2, paths)
      assert(paths.contains("/ice/v1/namespaces/a%1Fb/tables"), paths)
      assert(paths.forall(_.contains("/namespaces/a%1Fb/")), paths)
    } finally {
      rest.stop()
      Seq("", ".uri").foreach(k => spark.conf.unset(s"spark.sql.catalog.twolevel$k"))
    }
  }
}
