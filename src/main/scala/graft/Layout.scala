package graft

import org.apache.spark.sql.DataFrame

/** Materialization that keeps a physical layout VISIBLE to downstream
  * plans.
  *
  * `localCheckpoint(eager = true)` captures the physical plan's
  * outputPartitioning/outputOrdering into the LogicalRDD it leaves
  * behind — but under AQE the physical plan is an AdaptiveSparkPlanExec,
  * which reports Unknown partitioning, so the captured layout is Unknown
  * and every downstream consumer re-shuffles and re-sorts what was
  * already partitioned and sorted. Measured on one co-partitioned
  * rank-propagation round: 4 exchanges + 2 sorts with the naive
  * checkpoint vs 1 exchange + 1 sort with this one — and the extra
  * exchanges are on the EDGE side, i.e. the 100 TB relation
  * re-shuffling per iteration. This is the checkpoint the propagation
  * kernel ([[graft.graph.Superstep.run]]) pins every co-partitioned
  * round with.
  *
  * A layout checkpoint therefore materializes with AQE disabled for just
  * that job: a static `repartition + sortWithinPartitions` plan needs no
  * runtime re-planning, and the resulting LogicalRDD faithfully reports
  * hashpartitioning + sort order, which is what makes iterative state
  * joins exchange-free on the static side (the local twin of a bucketed
  * warehouse table; asserted in PlanAuditSpec).
  *
  * The AQE toggle is scoped to a CLONED session (SessionShim), not the
  * caller's: flipping the caller's conf is session-global, so any query
  * planned concurrently (Serve's request pool during a first-touch
  * build) would silently run without AQE. The clone shares the
  * SparkContext; only this one materialization plans under it, and the
  * checkpointed LogicalRDD is re-bound to the caller's session.
  */
object Layout {
  def checkpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.SessionShim.checkpointWithoutAqe(df)
}
