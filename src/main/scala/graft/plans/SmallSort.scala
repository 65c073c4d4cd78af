package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Sort a small query result in one task. Spark plans every global sort
  * as a range-partition exchange: a `RangePartitioner` sampling job, then
  * the exchange's map stage, then the sort — two extra Spark jobs even for
  * a 5-row result, and each job pays a fixed scheduling cost (closure
  * cleaning, task serialization, DAG scheduling) that no setting removes.
  * When the sort's input is small this rule puts `Repartition(1, shuffle =
  * false)` under it: the physical plan gets `CoalesceExec(1)`, whose
  * output is `SinglePartition`, so EnsureRequirements plans no range
  * exchange. The sort stays a full global sort; the output order is
  * unchanged.
  *
  * Fires only on a global `Sort` at the ROOT of a batch query — only
  * deterministic `Project`s and `CollectMetrics` may sit above it. So it
  * never touches:
  *  - a sort under a `Limit` (TakeOrderedAndProject already plans that
  *    without an exchange);
  *  - writes, whose root is a command or `WriteFiles` (output file
  *    counts stay as they were);
  *  - streaming plans;
  *  - sorts inside a larger plan, whose consumers may want parallelism.
  *
  * "Small" is `child.stats.sizeInBytes <= spark.sql.autoBroadcastJoinThreshold`:
  * input small enough to ship whole to every executor is small enough to
  * sort in one task. A threshold of -1 turns the rule off.
  *
  * Installed twice by [[install]]: as a pre-CBO rule, where Catalyst's
  * static size estimate decides, and as an AQE runtime rule, where a
  * materialized query stage's measured bytes decide (a join or aggregate
  * whose static estimate is large but whose output turns out small).
  */
object SmallSort extends Rule[LogicalPlan] {

  def install(ext: SparkSessionExtensions): Unit = {
    ext.injectPreCBORule(_ => SmallSort)
    ext.injectRuntimeOptimizerRule(_ => SmallSort)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else atRoot(plan)

  private def atRoot(plan: LogicalPlan): LogicalPlan = plan match {
    case p: Project if p.projectList.forall(_.deterministic) =>
      p.withNewChildren(atRoot(p.child) :: Nil)
    case m: CollectMetrics => m.withNewChildren(atRoot(m.child) :: Nil)
    case s: Sort if s.global && !singleTask(s.child) &&
        s.child.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold =>
      s.copy(child = Repartition(1, shuffle = false, s.child))
    case other => other
  }

  private def singleTask(child: LogicalPlan): Boolean = child match {
    case r: Repartition => r.numPartitions == 1
    case _ => false
  }
}
