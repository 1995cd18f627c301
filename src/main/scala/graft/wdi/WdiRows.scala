package graft.wdi

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Marker leaf for one level (`country` or `region`) of the driver-local
  * WDI rows of the extracts in `dir`: it carries the level's static schema,
  * so an output over it is constructed without reading anything, and
  * [[WdiRowsRule]] replaces it with a `LocalRelation` of the rows at the
  * output's first optimization. `session` is the session that built the
  * output; the rows are memoized under it, also when the cache manager
  * optimizes the plan in a clone of it. It is not part of the node's
  * identity, `dir` is: the cache manager never matches an output of one
  * extract directory to another's. */
case class WdiRows(dir: String, level: String, output: Seq[Attribute])(val session: SparkSession)
    extends LeafNode {
  override protected def otherCopyArgs: Seq[AnyRef] = session :: Nil
  override def doCanonicalize(): LogicalPlan =
    copy(output = output.map(QueryPlan.normalizeExpressions(_, output)))(session)
}

/** Optimizer rule: each [[WdiRows]] marker becomes a `LocalRelation` of
  * [[WdiPipelines.rows]] — built, at the first output a pass executes, by
  * the two jobs of one (session, extracts). Spark's `ConvertToLocalRelation`
  * then folds the output's filter and projection into the relation, and
  * [[graft.plans.LocalSortFold]] its sort. */
object WdiRowsRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case m: WdiRows => LocalRelation(m.output, WdiPipelines.rows(m.session, m.dir, m.level))
  }
}
