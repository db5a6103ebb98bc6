package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{UserDefinedExpression, UserDefinedGenerator}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ObjectConsumer,
  ObjectProducer, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Runs a small root sort as one local sort: a global `Sort` at the root of
  * a plan (or under a root `Project`) becomes `Sort(Repartition(1, shuffle =
  * false, child))`, so the sort needs no range-bounds sample job and no
  * exchange — one job instead of three.
  *
  * It fires only when the child is small by Catalyst's own broadcast
  * estimate (`child.stats.sizeInBytes <= spark.sql.autoBroadcastJoinThreshold`,
  * the size Spark already trusts to ship to every executor; joins estimate
  * as products, so a large input keeps the range sort), the plan is not
  * streaming, and nothing below the sort runs opaque code. Typed operators,
  * RDD-backed relations and user-defined functions can read
  * `TaskContext.getPartitionId()`, which a coalesce to one partition changes;
  * a cached relation counts by the plan it caches. A root `Project` must be
  * deterministic too: `monotonically_increasing_id` and `spark_partition_id`
  * above the sort would see one partition instead of the range partitions.
  *
  * Limits (`TakeOrderedAndProject`), writes (the command is the root) and
  * sorts below the root are left alone. Installed by
  * [[graft.tools.LocalSession]] through [[install]].
  */
object OneTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort if fires(s) => oneTask(s)
    case p @ Project(list, s: Sort) if list.forall(_.deterministic) && fires(s) =>
      p.copy(child = oneTask(s))
    case _ => plan
  }

  /** Adds the rule to the session's `extraOptimizations` once. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        this +: spark.experimental.extraOptimizations

  private def oneTask(s: Sort): Sort = s.copy(child = Repartition(1, shuffle = false, s.child))

  private def fires(s: Sort): Boolean = s.global && !s.isStreaming &&
    s.order.forall(_.deterministic) &&
    (s.child match {
      case Repartition(1, false, _) => false
      case _ => true
    }) &&
    s.child.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold &&
    !opaque(s.child)

  private def opaque(plan: LogicalPlan): Boolean = plan.exists {
    case _: ObjectProducer | _: ObjectConsumer | _: LogicalRDD => true
    case m: InMemoryRelation => opaque(m.cacheBuilder.logicalPlan)
    case n => n.expressions.exists(_.exists {
      case _: UserDefinedExpression | _: UserDefinedGenerator => true
      case _ => false
    })
  }
}
