package graft.core

/** Named-credential registry mirroring the reference's secret types `d1`
  * and `r2_sql` (CREATE SECRET ... TYPE d1) on top of Spark-friendly
  * config: programmatic registration, Spark/Hadoop conf keys, and the
  * reference's env-var fallbacks.
  *
  * Reference:
  *  - d1 secret (required ACCOUNT_ID + API_TOKEN, redacted api_token):
  *    /root/reference/src/d1_secret.cpp:12-103
  *  - r2_sql secret: /root/reference/src/r2_secret.cpp:11-97
  *  - env fallbacks CLOUDFLARE_ACCOUNT_ID / CLOUDFLARE_API_TOKEN /
  *    CLOUDFLARE_D1_DATABASE_ID: /root/reference/src/d1_functions.cpp:44-88
  *
  * Conf convention: `spark.cloudflare.<type>.<name>.accountId` /
  * `.apiToken` / `.databaseId`.
  */
object Secrets {

  final case class Secret(
      name: String,
      secretType: String, // "d1" | "r2_sql"
      accountId: String,
      apiToken: String,
      databaseId: String = "") {
    /** Redacts the token, like the reference's redact_keys. */
    override def toString: String =
      s"Secret($name, type=$secretType, accountId=$accountId, apiToken=***, " +
        s"databaseId=$databaseId)"
  }

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Secret]()

  def register(secret: Secret): Unit = {
    require(secret.accountId.nonEmpty, s"Secret '${secret.name}' requires accountId")
    require(secret.apiToken.nonEmpty, s"Secret '${secret.name}' requires apiToken")
    registry.put(key(secret.secretType, secret.name), secret)
  }

  def drop(secretType: String, name: String): Unit = registry.remove(key(secretType, name))

  def clear(): Unit = registry.clear()

  private def key(t: String, n: String) = s"$t/$n"

  private def env(k: String): Option[String] = sys.env.get(k).filter(_.nonEmpty)

  /** Look up by explicit name; `conf` lets SparkConf-provided credentials
    * participate without a hard dependency on a session here.
    */
  def lookup(secretType: String, name: String,
             conf: String => Option[String] = _ => None): Option[Secret] = {
    Option(registry.get(key(secretType, name))).orElse {
      val prefix = s"spark.cloudflare.$secretType.$name"
      for {
        acct <- conf(s"$prefix.accountId")
        tok <- conf(s"$prefix.apiToken")
      } yield Secret(name, secretType, acct, tok,
        conf(s"$prefix.databaseId").getOrElse(""))
    }
  }

  /** The d1 secret names probed, in this order, when none is named
    * (reference d1_storage.cpp:113-135).
    */
  val D1DefaultNames: Seq[String] = Seq("d1", "cloudflare", "__default_d1")

  /** The named d1 secret, else the first of [[D1DefaultNames]], else the
    * CLOUDFLARE_* environment.
    */
  def resolveD1(explicitName: Option[String],
                conf: String => Option[String] = _ => None): Option[Secret] = {
    explicitName match {
      case Some(n) => lookup("d1", n, conf)
      case None =>
        D1DefaultNames.iterator
          .flatMap(n => lookup("d1", n, conf)).nextOption()
          .orElse {
            for {
              acct <- env("CLOUDFLARE_ACCOUNT_ID")
              tok <- env("CLOUDFLARE_API_TOKEN")
            } yield Secret("__env", "d1", acct, tok,
              env("CLOUDFLARE_D1_DATABASE_ID").getOrElse(""))
          }
    }
  }

  /** The one option-map → D1 config resolver, behind `format("d1")`,
    * `format("d1query")`, the D1 catalog and the `D1` API. An empty
    * option counts as absent. Credentials come from, in order:
    *  1. an explicit `secret`, which must exist;
    *  2. inline `account_id` + `api_token`;
    *  3. the first registered of [[D1DefaultNames]];
    *  4. the CLOUDFLARE_* environment.
    * The database is `database_id`, else `database` (a 36-char UUID as
    * is, else looked up by name — reference d1_storage.cpp:75), else the
    * secret's. A caller that needs a database rejects an empty id.
    */
  def d1Config(option: String => Option[String]): D1Client.Config = {
    def opt(k: String) = option(k).filter(_.nonEmpty)
    val conf: String => Option[String] = k =>
      try org.apache.spark.sql.SparkSession.active.conf.getOption(k)
      catch { case _: Exception => None }
    val secret = opt("secret") match {
      case Some(n) => lookup("d1", n, conf).getOrElse(throw new IllegalArgumentException(
        s"D1 secret '$n' not found. Create it with: CREATE SECRET $n (TYPE d1, ...)"))
      case None => (opt("account_id"), opt("api_token")) match {
        case (Some(a), Some(t)) => Secret("__inline", "d1", a, t)
        case _ => resolveD1(None, conf).getOrElse(throw new IllegalArgumentException(
          "d1 requires a secret (option 'secret'), inline account_id/api_token, " +
            s"a registered ${D1DefaultNames.mkString("/")} secret, " +
            "or CLOUDFLARE_ACCOUNT_ID/CLOUDFLARE_API_TOKEN environment"))
      }
    }
    val cfg = D1Client.Config(secret.accountId, secret.apiToken, secret.databaseId,
      opt("api_base").getOrElse(D1Client.DefaultApiBase))
    opt("database_id").orElse(opt("database").map { db =>
      if (db.length == 36 && db.count(_ == '-') == 4) db else D1Client.databaseIdByName(cfg, db)
    }).fold(cfg)(id => cfg.copy(databaseId = id))
  }
}
