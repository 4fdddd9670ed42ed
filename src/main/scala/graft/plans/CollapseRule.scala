package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.cdx.Wayback

/** DISTINCT-ON → CDX `collapse=` pushdown, re-derived for Catalyst.
  *
  * The reference implements this as a ~400-line DuckDB OptimizerExtension
  * walking LOGICAL_DISTINCT(DISTINCT_ON) down to the wayback GET and
  * resolving distinct targets through projection chains
  * (/root/reference/src/internet_archive.cpp:1489-1893). Spark has no
  * DISTINCT ON syntax; the equivalent plan shapes are:
  *
  *  - `Deduplicate(keys, ...)`            — df.dropDuplicates("year", ...)
  *  - `Aggregate(keys, first(...) aggs)`  — groupBy(keys).agg(first(...))
  *
  * Target resolution (reference :1560-1806):
  *  - year            → collapse=timestamp:4
  *  - year, month     → collapse=timestamp:6
  *  - month alone     → error (ambiguous without year)
  *  - digest/timestamp/length/statuscode/urlkey/mimetype → collapse=<field>
  *  - url             → collapse=original
  *  - substring(col, 1, N) (through aliases in child Projects)
  *                    → collapse=<field>:N  (prefix collapse)
  *
  * The rewrite ADDS the collapse option to the wayback relation and KEEPS
  * the dedup node (as the reference keeps the DISTINCT node) — the remote
  * collapse is a row-reduction hint; Spark still enforces exact
  * semantics. Injected via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`), which runs in the
  * operator-optimization batch, before V2 scan pushdown builds the scan.
  */
object CollapseRule extends Rule[LogicalPlan] {

  private val collapseColumns = Map(
    "digest" -> "digest", "timestamp" -> "timestamp", "length" -> "length",
    "statuscode" -> "statuscode", "urlkey" -> "urlkey", "url" -> "original",
    "mimetype" -> "mimetype")

  private case class Target(column: String, prefixLen: Int = 0)

  /** Find the wayback relation under projections/filters, along with the
    * projection chain (top-down) for alias resolution.
    */
  private def findWayback(plan: LogicalPlan,
                          projections: List[Project] = Nil)
      : Option[(DataSourceV2Relation, List[Project])] = plan match {
    case p: Project => findWayback(p.child, projections :+ p)
    case f: Filter => findWayback(f.child, projections)
    case r: DataSourceV2Relation if Wayback.reads(r.table) =>
      Some((r, projections))
    case _ => None
  }

  /** Resolve one dedup key expression to a collapse target. */
  private def resolveTarget(expr: Expression, projections: List[Project]): Option[Target] = {
    expr match {
      case a: Attribute =>
        val name = a.name
        if (name == "year" || name == "month" || collapseColumns.contains(name))
          Some(Target(name))
        else {
          // alias defined in a child projection: follow it
          projections.view.flatMap { p =>
            p.projectList.collectFirst {
              case al @ Alias(child, aname) if aname == name && al.exprId == a.exprId => child
            }
          }.headOption.flatMap(resolveTarget(_, projections))
        }
      case Substring(col, Literal(start, _), Literal(len, _))
          if start.toString == "1" =>
        resolveTarget(col, projections).map(t => t.copy(prefixLen = len.toString.toInt))
      case Alias(child, _) => resolveTarget(child, projections)
      case Cast(child, _, _, _) => resolveTarget(child, projections)
      case _ => None
    }
  }

  private def collapsesFor(keys: Seq[Expression], projections: List[Project]): Seq[String] = {
    val resolved = keys.map(resolveTarget(_, projections))
    // a partially-resolved key set must NOT collapse: the remote would
    // drop rows that are distinct on the unresolved keys, and the kept
    // Deduplicate cannot resurrect them
    if (resolved.exists(_.isEmpty)) return Nil
    val targets = resolved.flatten
    if (targets.isEmpty) return Nil
    val names = targets.map(_.column).toSet
    val hasYear = names.contains("year")
    val hasMonth = names.contains("month")
    if (hasMonth && !hasYear)
      throw new IllegalArgumentException(
        "DISTINCT ON(month) is not supported for wayback_machine(). " +
          "Use DISTINCT ON(year, month) or DISTINCT ON(year) instead.")
    val yearMonth =
      if (hasYear && hasMonth) Seq("timestamp:6")
      else if (hasYear) Seq("timestamp:4")
      else Nil
    val rest = targets.filter(t => t.column != "year" && t.column != "month").flatMap { t =>
      collapseColumns.get(t.column).map { field =>
        if (t.prefixLen > 0) s"$field:${t.prefixLen}" else field
      }
    }
    (yearMonth ++ rest).distinct
  }

  /** The two shapes a DISTINCT ON takes by the time injected rules run,
    * as (keys, child): `Deduplicate`, or the `Aggregate` with a `First`
    * that ReplaceDeduplicateWithAggregate rewrites it into (`First` may
    * be nested under projections the optimizer collapsed into the
    * aggregate list, e.g. `substring_index(first(c), ...)`).
    */
  private object DistinctOn {
    def unapply(p: LogicalPlan): Option[(Seq[Expression], LogicalPlan)] = p match {
      case d: Deduplicate => Some((d.keys, d.child))
      case Aggregate(groupingExprs, aggExprs, child, _)
          if groupingExprs.nonEmpty && aggExprs.exists(_.exists {
            case AggregateExpression(_: First, _, _, _, _) => true
            case _ => false
          }) => Some((groupingExprs, child))
      case _ => None
    }
  }

  /** `node` with the wayback relation under `child` carrying the
    * collapse of `keys` (and, under a LIMIT `n`, `max_results` capped at
    * `n`); None when no wayback relation or collapsible key is there.
    */
  private def pushCollapse(node: LogicalPlan, keys: Seq[Expression],
                           child: LogicalPlan, limit: Option[Int]): Option[LogicalPlan] =
    findWayback(child, Nil).flatMap { case (relation, projections) =>
      val collapses = collapsesFor(keys, projections)
      if (collapses.isEmpty) None
      else Some(RelationOptions.swap(node, relation) { opts =>
        val existing = Option(opts.get("collapse")).toSeq
          .flatMap(_.split(";")).filter(_.nonEmpty)
        opts.put("collapse", (existing ++ collapses).distinct.mkString(";"))
        limit.foreach { n =>
          val cap = Option(opts.get("max_results")).map(_.toLong).getOrElse(n.toLong)
          opts.put("max_results", math.min(n.toLong, cap).toString)
        }
      })
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // LIMIT n over a collapse-covered DISTINCT ON: the remote collapse
    // already returns one row per distinct key, so the limit is legal to
    // push into the CDX request too (the reference does the same —
    // internet_archive_basic.test pins `&collapse=timestamp:4%` AND
    // `&limit=5` in one URL). Spark's own V2 limit pushdown stops at the
    // Deduplicate node, so the migration happens here. The plan keeps
    // both the Deduplicate and the Limit — remote collapse+limit are
    // row-reduction hints; Spark still enforces exact semantics.
    case lim @ GlobalLimit(IntegerLiteral(n), body) =>
      // by the time injected rules run the optimizer has usually pushed
      // the LocalLimit below the Project: walk the wrappers
      def findDedup(p: LogicalPlan): Option[(Seq[Expression], LogicalPlan)] = p match {
        case DistinctOn(keys, child) => Some((keys, child))
        case pr: Project => findDedup(pr.child)
        case ll: LocalLimit => findDedup(ll.child)
        case _ => None
      }
      findDedup(body).flatMap { case (keys, child) =>
        pushCollapse(lim, keys, child, Some(n))
      }.getOrElse(lim)

    case d @ DistinctOn(keys, child) => pushCollapse(d, keys, child, None).getOrElse(d)
  }
}

/** Session extensions: `SparkSession.builder()
  * .config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CollapseRule)
    // CdxFilterRule must see Like/RLike BEFORE LikeSimplification rewrites
    // them — resolution phase, not optimizer
    e.injectResolutionRule(_ => CdxFilterRule)
    // DuckDB's `name := value` TVF argument spelling → Spark's `=>`
    e.injectParser((_, delegate) => new AssignSyntaxParser(delegate))
  }
}
