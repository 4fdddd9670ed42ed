package graft

import org.apache.spark.sql.SparkSession

import graft.core.Secrets

/** One-call SQL-surface setup: after `Graft.registerAll(spark)` a user of
  * the reference extension can run the same queries over the same names —
  * `SELECT * FROM wayback_machine WHERE url = '...'`,
  * `SELECT * FROM common_crawl_index WHERE url LIKE '...'`,
  * `SELECT rolling_hash(text) ...` — with the session extensions
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) supplying the
  * DISTINCT-ON collapse and generic-LIKE pushdowns.
  *
  * (Spark has no user table-valued functions; registered temp views over
  * the DSv2 sources are the idiomatic equivalent — named parameters
  * become session-level options on the registered view's reader.)
  */
object Graft {

  def registerAll(spark: SparkSession,
                  waybackOptions: Map[String, String] = Map.empty,
                  commonCrawlOptions: Map[String, String] = Map.empty,
                  d1ApiBase: String = graft.core.D1Client.DefaultApiBase,
                  r2ApiBase: String = graft.sources.r2.R2.DefaultApiBase): Unit = {
    spark.read.format("wayback").options(waybackOptions)
      .load().createOrReplaceTempView("wayback_machine")
    // debug applied AFTER user options: the _debug view is debug by name
    spark.read.format("wayback").options(waybackOptions).option("debug", "true")
      .load().createOrReplaceTempView("wayback_machine_debug")
    spark.read.format("commoncrawl").options(commonCrawlOptions)
      .load().createOrReplaceTempView("common_crawl_index")
    spark.read.format("commoncrawl").options(commonCrawlOptions).option("debug", "true")
      .load().createOrReplaceTempView("common_crawl_index_debug")

    // the reference's named-parameter TVF spelling:
    // SELECT * FROM common_crawl_index(max_results := 50, debug := true)
    graft.plans.GraftTvf.register(spark, waybackOptions, commonCrawlOptions)
    // and the D1/R2 metadata + passthrough TVFs: d1_query, d1_databases,
    // d1_tables, r2_sql_query/databases/tables/describe
    graft.plans.GraftTvf.registerConnectors(spark, d1ApiBase, r2ApiBase)

    graft.functions.TextFunctions.registerAll(spark)
    graft.sources.d1.D1.registerExecuteUdf(spark)
    registerSecretUdfs(spark)
  }

  /** `CREATE SECRET` parity (reference d1_secret.cpp:12-67,
    * r2_secret.cpp:11-60): same parameter set, same unknown-parameter and
    * missing-parameter error wording, token redacted in any rendering.
    * Spark has no CREATE SECRET statement, so the surface is a scalar
    * function — `SELECT graft_create_secret('mysecret', 'd1',
    * map('account_id', '...', 'api_token', '...'))` — plus this
    * programmatic helper.
    */
  def createSecret(name: String, secretType: String,
                   options: Map[String, String]): Unit = {
    val tpe = secretType.toLowerCase
    require(tpe == "d1" || tpe == "r2_sql",
      s"Secret type '$secretType' not found, secret types are: d1, r2_sql")
    val label = if (tpe == "d1") "D1" else "R2 SQL"
    val norm = options.map { case (k, v) => (k.toLowerCase, v) }
    norm.keys.find(k => k != "account_id" && k != "api_token").foreach { bad =>
      throw new IllegalArgumentException(
        s"Unknown parameter for $label secret: '$bad'. Expected: account_id, api_token")
    }
    val acct = norm.getOrElse("account_id",
      throw new IllegalArgumentException(s"$label secret requires 'account_id' parameter"))
    val tok = norm.getOrElse("api_token",
      throw new IllegalArgumentException(s"$label secret requires 'api_token' parameter"))
    Secrets.register(Secrets.Secret(name, tpe, acct, tok))
  }

  def dropSecret(name: String, secretType: String): Unit =
    Secrets.drop(secretType.toLowerCase, name)

  /** Tune the session for a TINY total input — the engine-side form of
    * the round-17 floor finding: when the whole input is a few scan
    * partitions, Spark's session machinery IS the runtime, and the
    * AQE-off × 8-shuffle-partitions COMBINATION wins 12–20% where each
    * knob alone loses (measured grid in SCALE.md round 17; each knob
    * separately was measured and rejected in rounds 6/10). Both confs
    * are runtime-settable, so this applies to an already-built session;
    * call it again with the new byte count when the workload grows — a
    * non-thin call RESTORES the confs this function changed (the
    * pre-thin values are stashed in the session conf), so a session
    * never stays on the thin profile after its input outgrows it
    * (default cutoff 64 MB: a 0.1-SF TPC-H-ish directory is ~24 MB, a
    * 1-SF one is ~250 MB and must keep runtime re-planning and full
    * shuffle parallelism). A non-thin call on a never-thinned session
    * changes nothing.
    *
    * Returns true when the thin profile was applied.
    */
  def tuneForTinyInput(spark: SparkSession, totalInputBytes: Long,
                       cutoffBytes: Long = 64L << 20,
                       thinShufflePartitions: Int = 8): Boolean = {
    val thin = totalInputBytes >= 0 && totalInputBytes < cutoffBytes
    val savedAqe = "spark.graft.thin.saved.adaptive"
    val savedShuffle = "spark.graft.thin.saved.shufflePartitions"
    if (thin) {
      if (spark.conf.getOption(savedAqe).isEmpty) {
        spark.conf.set(savedAqe,
          spark.conf.get("spark.sql.adaptive.enabled", "true"))
        spark.conf.set(savedShuffle,
          spark.conf.get("spark.sql.shuffle.partitions", "200"))
      }
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions",
        thinShufflePartitions.toString)
    } else {
      spark.conf.getOption(savedAqe).foreach { v =>
        spark.conf.set("spark.sql.adaptive.enabled", v)
        spark.conf.getOption(savedShuffle)
          .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
        spark.conf.unset(savedAqe)
        spark.conf.unset(savedShuffle)
      }
    }
    thin
  }

  private def registerSecretUdfs(spark: SparkSession): Unit = {
    spark.udf.register("graft_create_secret",
      (name: String, tpe: String, opts: Map[String, String]) => {
        createSecret(name, tpe, opts); true
      })
    spark.udf.register("graft_drop_secret",
      (name: String, tpe: String) => { dropSecret(name, tpe); true })
  }
}
