package graft.extensions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, RepartitionByExpression, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Engine-level optimizer additions (SURVEY §4; prompt preference (c) —
  * a `Rule[LogicalPlan]` where built-in planning leaves measurable work
  * on the table).
  *
  * == SmallGlobalSort ==
  *
  * A global `ORDER BY` plans as a range exchange, and building the
  * `RangePartitioner` runs a separate SAMPLING pass over the sort's
  * child to pick partition bounds. When no exchange sits between the
  * scan and the sort — every row-level projection query ends exactly
  * like this — that sampling pass re-executes the ENTIRE upstream
  * pipeline: scan, JSON parse, per-row transforms, generator explodes,
  * all computed twice per run (measured: the t-family text rows and
  * q18/q19/q32 spend ~half their time in the sampler's shadow
  * execution). Even with an exchange below, the sampler is one extra
  * job per query — ~40-80 ms of scheduling floor at bench scale.
  *
  * When the optimizer's size estimate says the sort input is SMALL,
  * range-partitioning buys nothing: the rewrite sends the rows through
  * a single-partition range exchange (`RangePartitioner` with one
  * partition computes no bounds → no sampling pass, and the child
  * executes exactly once) and sorts locally — the total order is
  * unchanged because one partition IS a global order. Large sorts are
  * untouched: past [[SmallGlobalSort.Threshold]] the parallel range
  * sort is the only plan that scales, so a 100 TB `ORDER BY` keeps the
  * sampler. `Sort+Limit` roots are also left alone — the planner's
  * `TakeOrderedAndProject` (per-partition top-k, no full sort at all)
  * already beats both shapes (the q16 1-job/1-task plan).
  */
object SmallGlobalSort extends Rule[LogicalPlan] {

  /** Sort inputs estimated at or under this are sorted in one task.
    * Calibrated, not arbitrary: one reducer sorting ≤64 MB is
    * microseconds-to-milliseconds of TimSort, far below the cost of the
    * sampling pass + an extra scheduled job; and size estimates at this
    * altitude derive from scan file sizes, so an estimate under 64 MB
    * means the true input is comfortably one-task-sized. */
  val Threshold: Long = 64L * 1024 * 1024

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Sorts feeding a limit become TakeOrderedAndProject in the planner
    // — strictly better than either sort shape; leave them intact.
    val limitFed: Set[LogicalPlan] = plan.collect {
      case GlobalLimit(_, LocalLimit(_, s: Sort)) => Seq(s)
      case GlobalLimit(_, LocalLimit(_, Project(_, s: Sort))) => Seq(s)
      case LocalLimit(_, s: Sort) => Seq(s)
      case LocalLimit(_, Project(_, s: Sort)) => Seq(s)
    }.flatten.toSet
    plan.transformUp {
      case s: Sort
          if s.global && !limitFed.contains(s) &&
            s.child.stats.sizeInBytes <= Threshold =>
        Sort(s.order, global = false,
          RepartitionByExpression(s.order, s.child, Some(1)))
    }
  }
}

/** Runtime registration on an already-built session (the mains, specs,
  * REPLs) — the `spark.sql.extensions` path works too, but the driver
  * builds plain sessions, so every graft entry point self-registers.
  * Idempotent. */
object GraftOptimizations {
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq SmallGlobalSort))
      spark.experimental.extraOptimizations = cur :+ SmallGlobalSort
  }
}
