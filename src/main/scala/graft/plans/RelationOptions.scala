package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The scan-option rewrite both pushdown rules end with. */
private[plans] object RelationOptions {

  /** `plan` with `relation` (matched by reference) replaced by a copy
    * whose options `update` has edited. The wrappers above the relation
    * (view alias, projections) survive, so output attributes stay
    * intact.
    */
  def swap(plan: LogicalPlan, relation: DataSourceV2Relation)(
      update: java.util.Map[String, String] => Unit): LogicalPlan = {
    val merged = new java.util.HashMap[String, String](relation.options)
    update(merged)
    val newRel = relation.copy(options = new CaseInsensitiveStringMap(merged))
    plan.transformUp { case r: DataSourceV2Relation if r.eq(relation) => newRel }
  }
}
