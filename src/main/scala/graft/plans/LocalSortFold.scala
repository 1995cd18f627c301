package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InterpretedOrdering, SortOrder, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}

/** Planner strategy: a global `Sort` directly over a `LocalRelation` — rows
  * that are already on the driver — is sorted on the driver while planning
  * and planned as a bare `LocalTableScanExec`, whose `executeCollect` runs
  * no job.
  *
  * Spark's optimizer folds a `Filter`, `Project` or `Limit` over a
  * `LocalRelation` into a new one (`ConvertToLocalRelation`), but plans a
  * global `Sort` as a range-partitioning exchange and a sort: a sampling job
  * and a sort job for a few rows. This is a planner strategy, not an
  * optimizer rule, because injected optimizer rules run in the
  * operator-optimization batch and the `LocalRelation` batch that folds a
  * filter or projection into the relation runs after it: a rule there would
  * see `Sort(Project(Filter(LocalRelation)))`, never the folded relation.
  *
  * The rows are ordered by `InterpretedOrdering`, the comparison Spark's
  * own sort uses (NULL placement per sort order, NaN greatest, -0.0 equal to
  * 0.0); Scala's sort is stable, so ties keep their relation order, which
  * Spark's sort does not promise either. A streaming relation, or a sort key
  * that is not deterministic or holds an unevaluable expression such as a
  * subquery (what `ConvertToLocalRelation` also declines), is left to
  * Spark. There is no size threshold: the rows are on the driver already.
  */
object LocalSortFold extends SparkStrategy {
  private def foldable(o: SortOrder): Boolean = o.deterministic &&
    !o.child.exists(e => e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference])

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sort if s.global && s.order.forall(foldable) => s.child match {
      case l: LocalRelation if !l.isStreaming =>
        LocalTableScanExec(l.output, l.data.sorted(new InterpretedOrdering(s.order, l.output)),
          l.stream) :: Nil
      case _ => Nil
    }
    case _ => Nil
  }
}
