package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.core.Codecs
import graft.sources.cdx.{CdxDialect, CommonCrawl, Wayback}

/** Pushes the LIKE/regex predicate shapes that DSv2 v1-Filters cannot
  * express into the CDX scan options — completing the reference's
  * pushdown matrix for:
  *
  * wayback (src/internet_archive.cpp):
  *  - `url LIKE '<pat>'` (generic, inner %) → `url=` with %→* (:833-846)
  *  - `url NOT LIKE '<pat>'` → `filter=!original:<LikeToRegex>` (:865-877)
  *  - `urlkey [NOT] LIKE` → `filter=[!]urlkey:<LikeToRegex>` (:848-857,
  *    :895-920)
  *  - `[NOT] regexp(urlkey|mimetype|statuscode, rx)` →
  *    `filter=[!]<col>:rx` (:989-1005, :965-987)
  *
  * common crawl (src/common_crawl_index.cpp):
  *  - `url LIKE` → `url=` via ConvertSQLWildcardsToCDX (:1100-1110)
  *  - `url NOT LIKE` → `!~url:<SqlRegexToRegex>` (:1124-1146)
  *  - `mimetype LIKE` → `~mime:<SqlRegexToRegex>` (:1111-1119)
  *  - `[NOT] regexp(url, rx)` → `[!]~url:<anchored rx>` (:1159-1195,
  *    :1254-1283); statuscode/mimetype regex → `~field:rx`
  *
  * Simple shapes (prefix/suffix/contains/equality) still travel the
  * normal v1-Filter pushdown path; this rule only consumes what that path
  * cannot see. The exception is `statuscode` (IntegerType): its LIKE /
  * RLIKE shapes resolve through `Cast(statuscode AS STRING)`, which the
  * v1 path cannot express at all, so the rule consumes every pattern
  * shape there (wayback `[!]statuscode:<rx>`, CC `[!]~status:<rx>`).
  * Consumed predicates are REMOVED (both engines treat these as exact
  * remote filters).
  */
object CdxFilterRule extends Rule[LogicalPlan] {

  private val waybackRegexCols = Set("urlkey", "mimetype", "statuscode")
  private val ccRegexCols = Set("mimetype", "statuscode")

  private def dialectOf(rel: DataSourceV2Relation): Option[CdxDialect] =
    Seq(Wayback, CommonCrawl).find(_.reads(rel.table))

  private def attrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case _ => None
  }

  /** `statuscode LIKE '4%'` resolves as `Like(Cast(statuscode AS STRING),
    * …)` (statuscode is IntegerType) — the v1-Filter path cannot express
    * ANY pattern shape through a cast, so the rule consumes simple and
    * complex patterns alike here. Spark's int→string cast renders the
    * same decimal digits the CDX `status` field carries, so the remote
    * regex filter is exact.
    */
  private def castedName(e: Expression): Option[String] = e match {
    case c: Cast if c.dataType == org.apache.spark.sql.types.StringType =>
      c.child match {
        case a: Attribute => Some(a.name)
        case _ => None
      }
    case _ => None
  }

  private def litString(e: Expression): Option[String] = e match {
    case Literal(v, org.apache.spark.sql.types.StringType) if v != null => Some(v.toString)
    case _ => None
  }

  /** Simple LIKE shapes ('x%', '%x', '%x%', no-wildcard) are handled by
    * the v1-Filter path after LikeSimplification, matching the
    * reference's prefix()/suffix()/contains() handlers byte-for-byte —
    * this rule must only consume the complex placements those can't
    * express.
    */
  private def isComplexLike(p: String): Boolean = {
    if (p.contains("_") || p.contains("\\")) return true
    val inner = p.stripPrefix("%").stripSuffix("%")
    inner.contains("%")
  }

  /** Common Crawl url regexes are anchored at both ends. */
  private def anchored(rx: String): String = {
    val t = if (rx.startsWith("^")) rx else "^" + rx
    if (t.endsWith("$")) t else t + "$"
  }

  /** Translate one conjunct → (urlOption, extraFilter). Returns None when
    * not translatable (predicate stays in the plan).
    *
    * `extra_filters` is a ';'-joined list (re-split by the scan builders),
    * so a pattern whose translation contains ';' cannot be represented —
    * consuming it would split one filter into garbage fragments AFTER the
    * predicate was deleted from the plan. Such conjuncts are refused here
    * (None) and stay in the plan as ordinary residual filters.
    */
  private def translate(dialect: CdxDialect, e: Expression): Option[(Option[String], Option[String])] = {
    def some(url: Option[String] = None, f: Option[String] = None): Option[(Option[String], Option[String])] =
      if (f.exists(_.contains(";"))) None else Some((url, f))
    (dialect, e) match {
      // ---- positive LIKE ------------------------------------------------
      case (Wayback, Like(a, p, _)) if attrName(a).contains("url") =>
        litString(p).filter(isComplexLike).flatMap(s => some(url = Some(s.replace('%', '*'))))
      case (Wayback, Like(a, p, _)) if attrName(a).exists(waybackRegexCols) =>
        litString(p).filter(isComplexLike).flatMap(s =>
          some(f = Some(s"${attrName(a).get}:${Codecs.likeToRegex(s)}")))
      case (CommonCrawl, Like(a, p, _)) if attrName(a).contains("url") =>
        litString(p).filter(isComplexLike)
          .flatMap(s => some(url = Some(Codecs.convertSqlWildcardsToCdx(s))))
      case (CommonCrawl, Like(a, p, _)) if attrName(a).contains("mimetype") =>
        litString(p).filter(isComplexLike)
          .flatMap(s => some(f = Some(s"~mime:${Codecs.sqlRegexToRegex(s)}")))

      // ---- NOT LIKE -----------------------------------------------------
      case (Wayback, Not(Like(a, p, _))) if attrName(a).contains("url") =>
        litString(p).filter(isComplexLike).flatMap(s => some(f = Some(s"!original:${Codecs.likeToRegex(s)}")))
      case (Wayback, Not(Like(a, p, _))) if attrName(a).exists(waybackRegexCols) =>
        litString(p).filter(isComplexLike).flatMap(s =>
          some(f = Some(s"!${attrName(a).get}:${Codecs.likeToRegex(s)}")))
      case (CommonCrawl, Not(Like(a, p, _))) if attrName(a).contains("url") =>
        litString(p).filter(isComplexLike).flatMap(s => some(f = Some(s"!~url:${Codecs.sqlRegexToRegex(s)}")))
      case (CommonCrawl, Not(Like(a, p, _))) if attrName(a).exists(ccRegexCols) =>
        litString(p).filter(isComplexLike).flatMap(s => some(f = Some(
          s"!~${graft.core.CdxUrls.ccColumnToField(attrName(a).get)}:${Codecs.sqlRegexToRegex(s)}")))

      // ---- [NOT] RLIKE --------------------------------------------------
      case (Wayback, RLike(a, p)) if attrName(a).exists(waybackRegexCols) =>
        litString(p).flatMap(s => some(f = Some(s"${attrName(a).get}:$s")))
      case (Wayback, Not(RLike(a, p))) if attrName(a).contains("urlkey") =>
        litString(p).flatMap(s => some(f = Some(s"!urlkey:$s")))
      case (CommonCrawl, RLike(a, p)) if attrName(a).contains("url") =>
        litString(p).flatMap(s => some(f = Some(s"~url:${anchored(s)}")))
      case (CommonCrawl, RLike(a, p)) if attrName(a).exists(ccRegexCols) =>
        litString(p).flatMap(s => some(f = Some(
          s"~${graft.core.CdxUrls.ccColumnToField(attrName(a).get)}:$s")))
      case (CommonCrawl, Not(RLike(a, p))) if attrName(a).contains("url") =>
        litString(p).flatMap(s => some(f = Some(s"!~url:${anchored(s)}")))

      // ---- LIKE/RLIKE through Cast (IntegerType statuscode) -------------
      case (Wayback, Like(a, p, _)) if castedName(a).exists(waybackRegexCols) =>
        litString(p).flatMap(s =>
          some(f = Some(s"${castedName(a).get}:${Codecs.likeToRegex(s)}")))
      case (Wayback, Not(Like(a, p, _))) if castedName(a).exists(waybackRegexCols) =>
        litString(p).flatMap(s =>
          some(f = Some(s"!${castedName(a).get}:${Codecs.likeToRegex(s)}")))
      case (Wayback, RLike(a, p)) if castedName(a).exists(waybackRegexCols) =>
        litString(p).flatMap(s => some(f = Some(s"${castedName(a).get}:$s")))
      case (CommonCrawl, Like(a, p, _)) if castedName(a).exists(ccRegexCols) =>
        litString(p).flatMap(s => some(f = Some(
          s"~${graft.core.CdxUrls.ccColumnToField(castedName(a).get)}:${Codecs.sqlRegexToRegex(s)}")))
      case (CommonCrawl, Not(Like(a, p, _))) if castedName(a).exists(ccRegexCols) =>
        litString(p).flatMap(s => some(f = Some(
          s"!~${graft.core.CdxUrls.ccColumnToField(castedName(a).get)}:${Codecs.sqlRegexToRegex(s)}")))
      case (CommonCrawl, RLike(a, p)) if castedName(a).exists(ccRegexCols) =>
        litString(p).flatMap(s => some(f = Some(
          s"~${graft.core.CdxUrls.ccColumnToField(castedName(a).get)}:$s")))

      case _ => None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** SQL temp views wrap the relation in SubqueryAlias / pass-through
    * Projects — look through them (attribute names are unchanged there).
    */
  private def findRelation(plan: LogicalPlan): Option[DataSourceV2Relation] = plan match {
    case r: DataSourceV2Relation => Some(r)
    case SubqueryAlias(_, child) => findRelation(child)
    case v: View => findRelation(v.child)
    case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      findRelation(p.child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, child) if f.resolved && findRelation(child).isDefined =>
      val rel = findRelation(child).get
      dialectOf(rel) match {
        case None => f
        case Some(dialect) =>
          val conjuncts = splitConjuncts(cond)
          // at most ONE url-pattern conjunct may be consumed (the scan has
          // a single url= slot); further url conjuncts stay in the plan.
          // Seeded from the relation options: (a) the analyzer runs this
          // rule to FIXPOINT and a second pass must not consume the
          // residual a previous pass kept; (b) a user-supplied url/url_like
          // option must not be silently replaced — the predicate then stays
          // in the plan and Spark evaluates it on top of the option scan.
          var urlTaken = rel.options.containsKey("pushed_url") ||
            rel.options.containsKey("url") || rel.options.containsKey("url_like")
          val consumed = scala.collection.mutable.ArrayBuffer.empty[(Expression, (Option[String], Option[String]))]
          val kept = scala.collection.mutable.ArrayBuffer.empty[Expression]
          conjuncts.foreach { c =>
            translate(dialect, c) match {
              case Some((Some(_), _)) if urlTaken => kept += c
              case Some(t) => if (t._1.isDefined) urlTaken = true; consumed += ((c, t))
              case None => kept += c
            }
          }
          if (consumed.isEmpty) f
          else {
            val translations = consumed.map(_._2)
            val urlOpt = translations.flatMap(_._1).headOption
            val filters = translations.flatMap(_._2)
            val newChild = RelationOptions.swap(child, rel) { opts =>
              // dedicated key: takes precedence over user url/url_like in
              // the scan builders (plain "url" would be shadowed by url_like)
              urlOpt.foreach(u => opts.put("pushed_url", u))
              if (filters.nonEmpty) {
                val existing = Option(opts.get("extra_filters")).toSeq
                  .flatMap(_.split(";")).filter(_.nonEmpty)
                opts.put("extra_filters", (existing ++ filters).distinct.mkString(";"))
              }
            }
            if (kept.isEmpty) newChild
            else Filter(kept.reduce(And), newChild)
          }
      }
  }
}
