package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParameterContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._

/** SQL table-valued-function surface for the connector sources — the
  * reference exposes `SELECT * FROM common_crawl_index(max_results := 50,
  * debug := true)` (reference test/sql/common_crawl_parameters.test:7-31)
  * and `wayback_machine(...)` with named parameters; this registers REAL
  * table functions in the session's `TableFunctionRegistry` (the same
  * registry `range()` lives in), so Spark's own TVF resolution handles
  * name lookup and the named-argument (`name => value`) call form.
  *
  * Parameter sets mirror the reference bind signatures:
  *  - common_crawl_index: max_results BIGINT, debug BOOLEAN,
  *    timeout BIGINT  (common_crawl_index.cpp:1547-1549)
  *  - wayback_machine:    max_results BIGINT, collapse VARCHAR,
  *    debug BOOLEAN, timeout BIGINT  (internet_archive.cpp:1916-1919)
  *
  * Each invocation builds a fresh DSv2 relation whose reader options are
  * the registration-time defaults (endpoints, secrets) overridden by the
  * call's named arguments — so every pushdown the option-configured scan
  * supports works identically through the SQL spelling, and a pushed
  * LIMIT still overrides max_results exactly as the reference documents.
  */
object GraftTvf {

  private case class Param(name: String, kind: String) // bigint | boolean | varchar

  private val ccParams = Seq(
    Param("max_results", "bigint"), Param("debug", "boolean"), Param("timeout", "bigint"))
  private val wbParams = Seq(
    Param("max_results", "bigint"), Param("collapse", "varchar"),
    Param("debug", "boolean"), Param("timeout", "bigint"))

  /** Register both TVFs; `defaults` carry endpoint/etc reader options. */
  def register(spark: SparkSession,
               waybackOptions: Map[String, String] = Map.empty,
               commonCrawlOptions: Map[String, String] = Map.empty): Unit = {
    registerOne(spark, "common_crawl_index", "commoncrawl", ccParams, commonCrawlOptions)
    registerOne(spark, "wayback_machine", "wayback", wbParams, waybackOptions)
  }

  private def registerOne(spark: SparkSession, fname: String, format: String,
                          params: Seq[Param], defaults: Map[String, String]): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier(fname),
      new ExpressionInfo(getClass.getName.stripSuffix("$"), fname),
      (args: Seq[Expression]) => build(spark, fname, format, params, defaults, args))

  private def build(spark: SparkSession, fname: String, format: String,
                    params: Seq[Param], defaults: Map[String, String],
                    args: Seq[Expression]): LogicalPlan = {
    val opts = args.map {
      case NamedArgumentExpression(key, value) =>
        val k = key.toLowerCase
        val p = params.find(_.name == k).getOrElse(throw new IllegalArgumentException(
          s"""Invalid named parameter "$key" for function $fname. """ +
            s"Expected: ${params.map(_.name).mkString(", ")}"))
        k -> renderValue(fname, p, value)
      case other => throw new IllegalArgumentException(
        s"$fname does not take positional parameters " +
          s"(got ${other.sql}); use name := value")
    }.toMap
    spark.read.format(format).options(defaults ++ opts).load()
      .queryExecution.logical
  }

  // ---- D1 / R2 metadata + passthrough TVFs ---------------------------

  private val d1QueryNamed = Seq("secret", "account_id", "api_token", "database_id", "database")
  private val d1DatabasesNamed = Seq("secret", "account_id", "api_token")

  /** Register the connector SQL table functions the reference ships as
    * DuckDB TVFs (d1_functions.cpp:168-178, 280-287, 406-415;
    * r2_functions.cpp:62-65, 119-125, 178-186, 241-244):
    * `d1_query(sql, ...)`, `d1_databases()`, `d1_tables()`,
    * `r2_sql_query(secret, bucket, sql)`, `r2_sql_databases(secret,
    * bucket)`, `r2_sql_tables(secret, bucket[, ns])`,
    * `r2_sql_describe(secret, bucket, table)`. Positional/named parameter
    * sets, secret→parameter→environment resolution order, and binder
    * error wording all follow the reference. Metadata executes at bind
    * time, exactly as the reference's bind callbacks do.
    */
  def registerConnectors(spark: SparkSession,
                         d1ApiBase: String = graft.core.D1Client.DefaultApiBase,
                         r2ApiBase: String = graft.sources.r2.R2.DefaultApiBase): Unit = {
    def reg(name: String)(f: Seq[Expression] => LogicalPlan): Unit =
      spark.sessionState.tableFunctionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName.stripSuffix("$"), name),
        f)

    reg("d1_query") { args =>
      val (pos, named) = splitArgs("d1_query", args, d1QueryNamed)
      if (pos.isEmpty)
        throw new IllegalArgumentException("d1_query requires at least 'sql' parameter")
      val cfg = resolveD1Config(spark, named, d1ApiBase, terse = false)
      if (cfg.databaseId.isEmpty)
        throw new IllegalArgumentException(
          "database or database_id required (parameter or CLOUDFLARE_D1_DATABASE_ID env)")
      spark.read.format("d1query")
        .option("query", strOf("d1_query", "sql", pos.head))
        .option("account_id", cfg.accountId).option("api_token", cfg.apiToken)
        .option("database_id", cfg.databaseId).option("api_base", d1ApiBase)
        .load().queryExecution.logical
    }

    reg("d1_databases") { args =>
      val (pos, named) = splitArgs("d1_databases", args, d1DatabasesNamed)
      if (pos.nonEmpty)
        throw new IllegalArgumentException("d1_databases takes no positional parameters")
      val cfg = resolveD1Config(spark, named, d1ApiBase, terse = false)
      graft.sources.d1.D1.databasesDf(spark, cfg).queryExecution.logical
    }

    reg("d1_tables") { args =>
      val (pos, named) = splitArgs("d1_tables", args, d1QueryNamed)
      if (pos.nonEmpty)
        throw new IllegalArgumentException("d1_tables takes no positional parameters")
      val cfg = resolveD1Config(spark, named, d1ApiBase, terse = true)
      if (cfg.databaseId.isEmpty)
        throw new IllegalArgumentException("database or database_id required")
      graft.sources.d1.D1.tablesDf(spark, cfg).queryExecution.logical
    }

    def r2(fname: String, minArgs: Int, maxArgs: Int, countErr: String)
          (build: Seq[String] => LogicalPlan): Unit = reg(fname) { args =>
      if (args.exists(_.isInstanceOf[NamedArgumentExpression]))
        throw new IllegalArgumentException(s"$fname does not take named parameters")
      if (args.length < minArgs || args.length > maxArgs)
        throw new IllegalArgumentException(countErr)
      val strs = args.zipWithIndex.map { case (e, i) => strOf(fname, s"parameter ${i + 1}", e) }
      // resolve the secret at bind time so a bad name fails with the
      // reference's wording (r2_secret.cpp:71) instead of at action time
      val conf: String => Option[String] = k => spark.conf.getOption(k)
      if (graft.core.Secrets.lookup("r2_sql", strs.head, conf).isEmpty)
        throw new IllegalArgumentException(
          s"R2 SQL secret '${strs.head}' not found. " +
            s"Create it with: CREATE SECRET ${strs.head} (TYPE r2_sql, ...)")
      build(strs)
    }

    def r2Reader(fn: String, secret: String, bucket: String) =
      spark.read.format("r2sql").option("function", fn)
        .option("secret", secret).option("bucket", bucket).option("api_base", r2ApiBase)

    r2("r2_sql_query", 3, 3,
       "r2_sql_query requires 3 parameters: secret_name, bucket_name, sql_query") { p =>
      r2Reader("query", p(0), p(1)).option("query", p(2)).load().queryExecution.logical
    }
    r2("r2_sql_databases", 2, 2,
       "r2_sql_databases requires 2 parameters: secret_name, bucket_name") { p =>
      r2Reader("databases", p(0), p(1)).load().queryExecution.logical
    }
    r2("r2_sql_tables", 2, 3,
       "r2_sql_tables requires 2-3 parameters: secret_name, bucket_name, [namespace]") { p =>
      val r = r2Reader("tables", p(0), p(1))
      (if (p.length > 2) r.option("namespace", p(2)) else r).load().queryExecution.logical
    }
    r2("r2_sql_describe", 3, 3,
       "r2_sql_describe requires 3 parameters: secret_name, bucket_name, table_name") { p =>
      r2Reader("describe", p(0), p(1)).option("table", p(2)).load().queryExecution.logical
    }
  }

  /** Split TVF arguments into positionals and validated named strings. */
  private def splitArgs(fname: String, args: Seq[Expression], allowedNamed: Seq[String])
      : (Seq[Expression], Map[String, String]) = {
    val pos = Seq.newBuilder[Expression]
    val named = Map.newBuilder[String, String]
    args.foreach {
      case NamedArgumentExpression(key, value) =>
        val k = key.toLowerCase
        if (!allowedNamed.contains(k)) throw new IllegalArgumentException(
          s"""Invalid named parameter "$key" for function $fname. """ +
            s"Expected: ${allowedNamed.mkString(", ")}")
        named += k -> strOf(fname, k, value)
      case e => pos += e
    }
    (pos.result(), named.result())
  }

  private def strOf(fname: String, pname: String, e: Expression): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case _ => throw new IllegalArgumentException(s"$fname $pname parameter must be a string")
  }

  /** Credential resolution mirroring the reference's ResolveD1Config /
    * D1DatabasesBind / D1TablesBind order (d1_functions.cpp:35-89,
    * 200-247, 310-360): explicit `secret` wins; else inline
    * account_id/api_token parameters; else CLOUDFLARE_* environment.
    * `terse` selects d1_tables' shorter error wording (:340-345).
    */
  private def resolveD1Config(spark: SparkSession, named: Map[String, String],
                              apiBase: String, terse: Boolean): graft.core.D1Client.Config = {
    import graft.core.{D1Client, Secrets}
    val conf: String => Option[String] = k => spark.conf.getOption(k)
    val (acct, tok, secretDb) = named.get("secret") match {
      case Some(n) =>
        val s = Secrets.lookup("d1", n, conf).getOrElse(throw new IllegalArgumentException(
          s"D1 secret '$n' not found. Create it with: CREATE SECRET $n (TYPE d1, ...)"))
        (s.accountId, s.apiToken, s.databaseId)
      case None =>
        (named.get("account_id").orElse(sys.env.get("CLOUDFLARE_ACCOUNT_ID")).getOrElse(""),
         named.get("api_token").orElse(sys.env.get("CLOUDFLARE_API_TOKEN")).getOrElse(""),
         "")
    }
    if (acct.isEmpty) throw new IllegalArgumentException(
      if (terse) "account_id required"
      else "account_id required (via secret, parameter, or CLOUDFLARE_ACCOUNT_ID env)")
    if (tok.isEmpty) throw new IllegalArgumentException(
      if (terse) "api_token required"
      else "api_token required (via secret, parameter, or CLOUDFLARE_API_TOKEN env)")
    var cfg = D1Client.Config(acct, tok, secretDb, apiBase)
    named.get("database_id") match {
      case Some(id) => cfg = cfg.copy(databaseId = id)
      case None => named.get("database") match {
        case Some(name) => cfg = cfg.copy(databaseId = D1Client.databaseIdByName(cfg, name))
        case None => sys.env.get("CLOUDFLARE_D1_DATABASE_ID").filter(_.nonEmpty)
          .foreach(id => cfg = cfg.copy(databaseId = id))
      }
    }
    cfg
  }

  // type checks + error wording follow the reference binder
  // (common_crawl_index.cpp:320-341)
  private def renderValue(fname: String, p: Param, e: Expression): String = (p.kind, e) match {
    case ("bigint", Literal(v, IntegerType | LongType | ShortType)) => v.toString
    case ("bigint", _) =>
      val unit = if (p.name == "timeout") " (seconds)" else ""
      throw new IllegalArgumentException(
        s"$fname ${p.name} parameter must be an integer$unit")
    case ("boolean", Literal(v, BooleanType)) => v.toString
    case ("boolean", _) => throw new IllegalArgumentException(
      s"$fname ${p.name} parameter must be a boolean")
    case ("varchar", Literal(v, StringType)) if v != null => v.toString
    case ("varchar", _) => throw new IllegalArgumentException(
      s"$fname ${p.name} parameter must be a string")
  }
}

/** `ATTACH 'db' AS mydb (TYPE d1 [, SECRET 's', ...])` — the reference's
  * storage-extension attach (d1_storage.cpp:101-144) re-expressed as a
  * Spark command: registers [[graft.sources.d1.D1Catalog]] under the
  * alias via `spark.sql.catalog.*` conf, after resolving the secret with
  * the reference's order — explicit SECRET option, else the default
  * names d1/cloudflare/__default_d1 (:113-127), else the reference's
  * error wording verbatim (:130-133). Extra options (e.g. API_BASE)
  * pass through to the catalog, matching DuckDB's generic ATTACH
  * option list. The database string may be a name or a UUID; the
  * catalog applies the same 36-char heuristic as the reference.
  */
object AttachSyntax {
  import org.apache.spark.sql.{Row, SparkSession}

  private val AttachRe =
    """(?is)\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'(?:\s+AS\s+([A-Za-z_]\w*))?\s*\((.*)\)\s*;?\s*""".r
  private val OptRe = """(?i)([A-Za-z_]\w*)\s+(?:'([^']*)'|(\S+))""".r

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case AttachRe(db, aliasOrNull, optBody) =>
      val opts = optBody.split(",").map(_.trim).filter(_.nonEmpty).map { o =>
        OptRe.findFirstMatchIn(o) match {
          case Some(m) => m.group(1).toLowerCase -> Option(m.group(2)).getOrElse(m.group(3))
          case None => throw new IllegalArgumentException(s"Cannot parse ATTACH option: '$o'")
        }
      }.toMap
      opts.get("type") match {
        case Some(t) if t.equalsIgnoreCase("d1") =>
          val alias = Option(aliasOrNull).getOrElse(db)
          Some(AttachD1Command(db, alias, opts.get("secret"), opts - "type" - "secret"))
        case Some(t) if t.equalsIgnoreCase("iceberg") =>
          val alias = Option(aliasOrNull).getOrElse(
            throw new IllegalArgumentException(
              "ATTACH (TYPE iceberg) requires an alias: ATTACH '<rest uri>' AS name (TYPE iceberg)"))
          Some(AttachIcebergCommand(db, alias, opts - "type"))
        case Some(t) => throw new IllegalArgumentException(
          s"Unsupported TYPE for ATTACH: '$t' (supported: d1, iceberg)")
        case None => throw new IllegalArgumentException(
          "ATTACH requires a TYPE option (TYPE d1 | TYPE iceberg)")
      }
    case _ => None
  }

  case class AttachD1Command(db: String, alias: String, secret: Option[String],
                             extra: Map[String, String])
      extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val conf: String => Option[String] = k => spark.conf.getOption(k)
      val secretName = secret.getOrElse {
        graft.core.Secrets.D1DefaultNames
          .find(n => graft.core.Secrets.lookup("d1", n, conf).isDefined)
          .getOrElse(throw new IllegalArgumentException(
            "D1 attach requires a D1 secret. Create one with: CREATE SECRET (TYPE d1, " +
              "ACCOUNT_ID '...', API_TOKEN '...')\n" +
              "Or specify an existing secret: ATTACH 'db_name' AS alias (TYPE d1, SECRET 'secret_name')"))
      }
      spark.conf.set(s"spark.sql.catalog.$alias",
        classOf[graft.sources.d1.D1Catalog].getName)
      spark.conf.set(s"spark.sql.catalog.$alias.database", db)
      spark.conf.set(s"spark.sql.catalog.$alias.secret", secretName)
      extra.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.$alias.$k", v) }
      Seq.empty
    }
  }

  /** `ATTACH '<rest catalog uri>' AS lake (TYPE iceberg [, SECRET 's' |
    * TOKEN '...'])` — registers [[graft.sources.iceberg.IcebergRestCatalog]]
    * under the alias; `SELECT … FROM lake.ns.tbl` then reads the
    * Iceberg-on-R2 lake natively. Extra options (e.g. TOKEN) pass through
    * as catalog conf, same shape as the D1 attach.
    */
  case class AttachIcebergCommand(uri: String, alias: String,
                                  extra: Map[String, String])
      extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      spark.conf.set(s"spark.sql.catalog.$alias",
        classOf[graft.sources.iceberg.IcebergRestCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$alias.uri", uri)
      extra.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.$alias.$k", v) }
      Seq.empty
    }
  }
}

/** `CREATE [OR REPLACE] SECRET [IF NOT EXISTS] [name] (TYPE d1|r2_sql,
  * ACCOUNT_ID '…', API_TOKEN '…')` and `DROP SECRET [IF EXISTS] name` —
  * the reference registers these through DuckDB's secret manager
  * (d1_secret.cpp:12-67, r2_secret.cpp:11-60); Spark's grammar has no
  * secret statement, so the delegating parser (the ATTACH pattern)
  * accepts the literal spelling the engine's own error messages
  * advertise ("Create it with: CREATE SECRET n (TYPE d1, ...)").
  * Parameter validation and error wording delegate to
  * [[graft.Graft.createSecret]], which mirrors the reference's
  * CreateD1SecretFunction/CreateR2SQLSecret checks verbatim. An omitted
  * name registers the type's default (`__default_<type>`) — the name the
  * D1 ATTACH probe order already looks up. SCOPE and PROVIDER 'config'
  * are accepted (the reference's only provider is config); any other
  * provider is rejected.
  */
object SecretSyntax {
  import org.apache.spark.sql.{Row, SparkSession}

  private val CreateRe =
    """(?is)\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?(?:(?:PERSISTENT|TEMPORARY)\s+)?SECRET\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(?:([A-Za-z_]\w*)\s*)?\((.*)\)\s*;?\s*""".r
  private val DropRe =
    """(?is)\s*DROP\s+SECRET\s+(?:(IF\s+EXISTS)\s+)?([A-Za-z_]\w*)\s*;?\s*""".r
  private val OptRe = """(?i)([A-Za-z_]\w*)\s+(?:'((?:[^']|'')*)'|([^\s,']+))""".r

  /** Split the option body on commas OUTSIDE single-quoted literals —
    * a naive split(",") breaks values that contain commas (API tokens
    * can, in principle). `''` is the in-literal quote escape, DuckDB's
    * spelling.
    */
  private def splitOptions(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQuote) {
        cur.append(c)
        if (c == '\'') {
          if (i + 1 < body.length && body.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else inQuote = false
        }
      } else if (c == '\'') { inQuote = true; cur.append(c) }
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.result()
  }

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case CreateRe(orReplace, ifNotExists, nameOrNull, optBody) =>
      val opts = splitOptions(optBody).map(_.trim).filter(_.nonEmpty).map {
        case OptRe(k, quoted, bare) =>
          k.toLowerCase -> (if (quoted != null) quoted.replace("''", "'") else bare)
        case o => throw new IllegalArgumentException(
          s"Cannot parse CREATE SECRET option: '$o'")
      }
      val tpe = opts.collectFirst { case ("type", v) => v.toLowerCase }.getOrElse(
        throw new IllegalArgumentException("CREATE SECRET requires a TYPE option"))
      opts.collectFirst { case ("provider", v) => v }.foreach { p =>
        if (!p.equalsIgnoreCase("config")) throw new IllegalArgumentException(
          s"Secret provider '$p' not found for secret type '$tpe' (supported: config)")
      }
      val params = opts.filterNot { case (k, _) =>
        k == "type" || k == "provider" || k == "scope"
      }.toMap
      Some(CreateSecretCommand(Option(nameOrNull), tpe, params,
        orReplace != null, ifNotExists != null))
    case DropRe(ifExists, name) =>
      Some(DropSecretCommand(name, ifExists != null))
    case _ => None
  }

  case class CreateSecretCommand(name: Option[String], tpe: String,
                                 params: Map[String, String],
                                 orReplace: Boolean, ifNotExists: Boolean)
      extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val n = name.getOrElse(s"__default_$tpe")
      val exists = graft.core.Secrets.lookup(tpe, n).isDefined
      if (exists && ifNotExists) return Seq.empty
      if (exists && !orReplace) throw new IllegalArgumentException(
        s"Secret with name '$n' already exists")
      graft.Graft.createSecret(n, tpe, params)
      Seq.empty
    }
  }

  case class DropSecretCommand(name: String, ifExists: Boolean)
      extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val types = Seq("d1", "r2_sql")
        .filter(t => graft.core.Secrets.lookup(t, name).isDefined)
      if (types.isEmpty && !ifExists) throw new IllegalArgumentException(
        s"Failed to remove non-existent secret with name '$name'")
      types.foreach(t => graft.core.Secrets.drop(t, name))
      Seq.empty
    }
  }
}

/** `BEGIN [TRANSACTION]` / `COMMIT` / `ROLLBACK` (`ABORT`) — the
  * transaction spellings the reference inherits from its host grammar
  * and serves with a custom transaction manager that buffers D1 writes
  * and flushes them as one batch POST at commit
  * (reference src/storage/d1_transaction_manager.cpp:11-46,
  * d1_transaction.cpp:24-58). Spark's grammar has none of these, so the
  * delegating parser claims them and drives [[graft.sources.d1.D1Txn]];
  * state-error wording is DuckDB's ("cannot commit - no transaction is
  * active", "cannot start a transaction within a transaction").
  *
  * The regexes match only the bare statements — Spark 4's SQL-scripting
  * `BEGIN … END` compound blocks have a body after the keyword and fall
  * through to the delegate untouched.
  */
object TxnSyntax {
  import org.apache.spark.sql.{Row, SparkSession}

  private val BeginRe = """(?is)\s*BEGIN(?:\s+TRANSACTION)?\s*;?\s*""".r
  private val CommitRe = """(?is)\s*COMMIT\s*;?\s*""".r
  private val RollbackRe = """(?is)\s*(?:ROLLBACK|ABORT)\s*;?\s*""".r

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case BeginRe() => Some(TxnCommand("begin"))
    case CommitRe() => Some(TxnCommand("commit"))
    case RollbackRe() => Some(TxnCommand("rollback"))
    case _ => None
  }

  case class TxnCommand(op: String)
      extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.sources.d1.D1Txn
      // the local property (value = owning session id) rides driver
      // thread → task, so a d1_execute evaluating in local mode buffers
      // into exactly this session's transaction, and one on a real
      // cluster executor (different JVM, where the buffer is
      // unreachable) detects the open transaction and fails loudly
      // instead of posting inside BEGIN
      val sid = org.apache.spark.sql.GraftColumnShim.sessionUUID(spark)
      op match {
        case "begin" =>
          D1Txn.begin(sid)
          spark.sparkContext.setLocalProperty(D1Txn.FlagKey, sid)
        case "commit" =>
          try D1Txn.commit(sid)
          finally spark.sparkContext.setLocalProperty(D1Txn.FlagKey, null)
        case "rollback" =>
          try D1Txn.rollback(sid)
          finally spark.sparkContext.setLocalProperty(D1Txn.FlagKey, null)
      }
      Seq.empty
    }
  }
}

/** `SELECT DISTINCT ON(k, …) <list> FROM …` — the DuckDB/Postgres
  * spelling Spark's grammar lacks. Parsed by delegating the de-sugared
  * `SELECT <list> FROM …` to Spark's parser, then inserting a
  * `Deduplicate(keys)` BELOW the final projection (and any Sort/Limit),
  * which is exactly the plan `df.dropDuplicates(keys)` builds — so
  * [[CollapseRule]]'s DISTINCT-ON → CDX `collapse=` pushdown (and its
  * month-without-year error parity) applies to the SQL spelling too.
  *
  * DuckDB semantics note: with no ORDER BY, DISTINCT ON keeps an
  * arbitrary row per key group — same contract as `dropDuplicates`.
  */
object DistinctOnSyntax {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.plans.logical._

  private val Re = """(?is)\s*SELECT\s+DISTINCT\s+ON\s*\(([^)]*)\)\s+(.*)""".r
  /** DuckDB slice spelling `col[:N]` — a prefix key. */
  private val SliceRe = """^"?(\w+)"?\[\s*:\s*(\d+)\s*\]$""".r

  def parse(sqlText: String, parseRest: String => LogicalPlan): Option[LogicalPlan] =
    sqlText match {
      case Re(keys, rest) =>
        var n = 0
        val parsed: Seq[Either[Attribute, NamedExpression]] =
          keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
            case SliceRe(col, len) =>
              n += 1
              Right(Alias(
                UnresolvedFunction("substring",
                  Seq(UnresolvedAttribute.quoted(col), Literal(1), Literal(len.toInt)),
                  isDistinct = false),
                s"__distinct_on_$n")())
            case name =>
              Left(UnresolvedAttribute.quoted(name.stripPrefix("\"").stripSuffix("\"")))
          }
        val plainKeys = parsed.collect { case Left(a) => a }
        val computed = parsed.collect { case Right(ne) => ne }
        val keyAttrs = plainKeys ++
          computed.map(ne => UnresolvedAttribute.quoted(ne.name))
        Some(insertDedup(parseRest(s"SELECT $rest"), keyAttrs, computed))
      case _ => None
    }

  /** DISTINCT ON applies before projection/ordering/limit: walk through
    * the wrappers the de-sugared query parsed into and place the
    * Deduplicate under the projection. Computed keys (prefix slices) are
    * added as an aliased projection BELOW the dedup — the same shape as
    * `withColumn(k, substring(...)).dropDuplicates(k)` — which the outer
    * projection then excludes and [[CollapseRule]] resolves to a prefix
    * collapse.
    */
  private def insertDedup(plan: LogicalPlan, keys: Seq[Attribute],
      computed: Seq[NamedExpression]): LogicalPlan = {
    def dedupOf(child: LogicalPlan): LogicalPlan =
      if (computed.isEmpty) Deduplicate(keys, child)
      else Deduplicate(keys, Project(UnresolvedStar(None) +: computed, child))
    plan match {
      case l: GlobalLimit => l.copy(child = insertDedup(l.child, keys, computed))
      case l: LocalLimit => l.copy(child = insertDedup(l.child, keys, computed))
      case s: Sort => s.copy(child = insertDedup(s.child, keys, computed))
      case p: Project => p.copy(child = dedupOf(p.child))
      case other => dedupOf(other)
    }
  }
}

/** Delegating parser that accepts DuckDB's `name := value` named-argument
  * spelling by rewriting `:=` to Spark's `name => value` form outside
  * string literals, quoted identifiers, and comments (`:=` has no other
  * meaning anywhere in Spark SQL, so the rewrite is semantics-preserving),
  * the reference's `ATTACH ... (TYPE d1)` statement, which Spark's
  * grammar lacks entirely (see [[AttachSyntax]]), the
  * `CREATE SECRET` / `DROP SECRET` statements (see [[SecretSyntax]]),
  * the `BEGIN`/`COMMIT`/`ROLLBACK` transaction statements (see
  * [[TxnSyntax]]), and the `SELECT DISTINCT ON(...)` spelling (see
  * [[DistinctOnSyntax]]).
  */
class AssignSyntaxParser(delegate: ParserInterface) extends ParserInterface {

  private[plans] def rewrite(sql: String): String = {
    if (!sql.contains(":=")) return sql
    val out = new java.lang.StringBuilder(sql.length)
    var i = 0
    var state: Char = 'n' // n=normal, '\''=string, '"'=dquote, '`'=bquote, '-'=line comment, '*'=block comment
    while (i < sql.length) {
      val c = sql.charAt(i)
      state match {
        case 'n' =>
          if (c == ':' && i + 1 < sql.length && sql.charAt(i + 1) == '=') {
            out.append("=>"); i += 1
          } else {
            if (c == '\'' || c == '"' || c == '`') state = c
            else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') state = '-'
            else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') state = '*'
            out.append(c)
          }
        case q @ ('\'' | '"' | '`') =>
          // doubled quote chars are escapes inside their own literal kind
          if (c == q && i + 1 < sql.length && sql.charAt(i + 1) == q) {
            out.append(c); out.append(c); i += 1
          } else {
            if (c == q) state = 'n'
            out.append(c)
          }
        case '-' =>
          if (c == '\n') state = 'n'
          out.append(c)
        case '*' =>
          if (c == '*' && i + 1 < sql.length && sql.charAt(i + 1) == '/') {
            out.append("*/"); i += 1; state = 'n'
          } else out.append(c)
      }
      i += 1
    }
    out.toString
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    AttachSyntax.parse(sqlText)
      .orElse(SecretSyntax.parse(sqlText))
      .orElse(TxnSyntax.parse(sqlText))
      .orElse(DistinctOnSyntax.parse(sqlText, s => delegate.parsePlan(rewrite(s))))
      .getOrElse(delegate.parsePlan(rewrite(sqlText)))
  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan =
    AttachSyntax.parse(sqlText)
      .orElse(SecretSyntax.parse(sqlText))
      .orElse(TxnSyntax.parse(sqlText))
      .orElse(DistinctOnSyntax.parse(sqlText,
        s => delegate.parsePlanWithParameters(rewrite(s), ctx)))
      .getOrElse(delegate.parsePlanWithParameters(rewrite(sqlText), ctx))
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(rewrite(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(rewrite(sqlText))
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
