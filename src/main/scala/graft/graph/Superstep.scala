package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one propagation kernel behind GraphAlgs' fixed-round loops. A
  * superstep is a state–edge join plus a group-by combine (Pregelix,
  * VLDB 2014): each loop supplies only its initial state and its step
  * (message over the state join, combine, update), and the kernel makes
  * the four decisions every loop shares, each in one place:
  *
  *  - how the state meets the static edge relation ([[joinState]]);
  *  - how each round's state is checkpointed ([[run]]);
  *  - after which rounds a monotone loop probes for its fixed point
  *    ([[run]]);
  *  - how "one more step changes nothing" is tested
  *    ([[Result.converged]]).
  *
  * Segmenting the rounds only moves materialization boundaries, never a
  * step's expressions or its summation order, so both join strategies
  * produce bit-identical states.
  */
object Superstep {

  /** State rows up to which the state broadcasts: 2M rows ≈ 60 MB for an
    * id + 3 doubles, inside any executor's broadcast budget with 30×
    * headroom against an 8 GB heap; one state broadcast is in flight at
    * a time (freed at the next round's checkpoint). */
  val BroadcastMaxRows: Long = 2000000L

  /** True when `stateRows` rows of per-node state must co-partition with
    * the edges rather than broadcast. The caller counts exactly: an
    * estimator cannot see through an iterative loop, which is how an
    * auto-picked broadcast OOMs at scale (10⁹–10¹⁰ vertices is 10⁴× over
    * the gate). */
  def coPartitioned(stateRows: Long): Boolean = stateRows > BroadcastMaxRows

  /** The state-join gate. Broadcast: the state ships whole onto an edge
    * layout partitioned by the fold key, so the fold aggregates in place.
    * Co-partitioned: an exchange-free sort-merge join against a layout
    * partitioned and sorted by `key` — the state arrives hash-partitioned
    * by id from the previous round's checkpoint, so the big relation
    * never moves and only the state re-sorts in partition. */
  def joinState(edges: DataFrame, state: DataFrame, key: String,
                coPartition: Boolean): DataFrame =
    edges.join(if (coPartition) state.hint("merge") else broadcast(state), key)

  /** Sum in canonical sorted order, so every intermediate double is
    * bit-identical to the DuckDB twins' list_sum(list_sort(…)). */
  def foldSum(c: Column): Column =
    aggregate(sort_array(collect_list(c)), lit(0.0), (s, x) => s + x)

  /** How a loop shows that one more step changes nothing. */
  sealed trait Fixpoint
  object Fixpoint {
    /** Never asked: the loop runs every round (the rank family, HITS). */
    case object Unchecked extends Fixpoint
    /** Monotone; every row of a step's output carries a boolean
      * `changed`, and a round with none is the fixed point. */
    case object ChangedFlag extends Fixpoint
    /** Monotone; the state only shrinks, so equal sizes are equal
      * states. */
    case object Shrinking extends Fixpoint
    /** Not monotone (synchronous votes can 2-cycle): one more step
      * changes nothing iff it keeps `column` of every id. */
    final case class SameColumn(column: String) extends Fixpoint
  }
  import Fixpoint._

  /** One propagation loop. `coPartition` is the state-join strategy the
    * step was built for (see [[joinState]]); it also picks the per-round
    * checkpoint. `l1` names a column the kernel L1-normalizes after every
    * round. */
  final case class Loop(init: DataFrame, step: DataFrame => DataFrame,
                        coPartition: Boolean,
                        fixpoint: Fixpoint = Unchecked,
                        l1: Option[String] = None)

  /** A finished loop. `state` is materialized: consumers fan out over it.
    * `fixed` records a round of the loop that changed nothing; `rows` is
    * |state| when the loop counted it. */
  final class Result private[Superstep] (val state: DataFrame, loop: Loop,
                                         fixed: Boolean, rows: Long) {
    /** True iff one more step from `state` changes nothing. A monotone
      * loop that already ran a no-op round sits at its fixed point, so
      * the answer needs no job; otherwise it runs one genuine step. */
    lazy val converged: Boolean = fixed || {
      val next = loop.step(state)
      loop.fixpoint match {
        case ChangedFlag => noneChanged(next)
        case Shrinking => next.count() == rows
        case SameColumn(c) =>
          next.unionAll(state).groupBy("id")
            .agg(countDistinct(col(c)).as("n"))
            .filter(col("n") > 1)
            .isEmpty
        case Unchecked =>
          throw new IllegalStateException("loop has no fixed-point test")
      }
    }
  }

  /** Runs `rounds` supersteps of `loop` (fewer when a monotone loop
    * reaches its fixed point).
    *
    * Checkpoint: the co-partitioned path pins every round with
    * [[graft.Layout.checkpoint]] — the next round's exchange-free
    * sort-merge join hangs on the visible layout. The broadcast path
    * checkpoints every round lazily: each round's plan stays one level
    * deep, and the materialization rides inside the job that next reads
    * the state (the next round's broadcast, a probe, the L1 total). The
    * last round, which no next round reads, is checkpointed eagerly
    * unless a probe or total follows it — never both.
    *
    * Probe cadence for monotone loops: after every second round (after
    * every round on the co-partitioned path, whose checkpoint has
    * already materialized the state), never after the last, where the
    * answer would go unread. A no-op round is the fixed point, so every
    * remaining round would be a no-op too: stopping there returns
    * exactly the full unrolling, at the cost of at most one no-op round
    * past the true fixed point. A shrinking loop also counts its last
    * round: that count is the job that materializes it, and
    * [[Result.converged]] compares against it. */
  def run(loop: Loop, rounds: Int): Result = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import loop._
    val monotone = fixpoint == ChangedFlag || fixpoint == Shrinking
    var state = init
    var rows = -1L
    var fixed = false
    var r = 0
    while (r < rounds && !fixed) {
      r += 1
      val last = r == rounds
      val probe = monotone && !last && (coPartition || r % 2 == 0) ||
        fixpoint == Shrinking && last
      val next = step(state)
      state =
        if (coPartition) graft.Layout.checkpoint(next)
        else next.localCheckpoint(eager = last && !probe && l1.isEmpty)
      l1.foreach(v => state = normalize(state, v, coPartition))
      if (probe) fixed = fixpoint match {
        case Shrinking =>
          val before = if (rows < 0) init.count() else rows
          rows = state.count()
          rows == before
        case _ => noneChanged(state)
      }
    }
    new Result(if (fixpoint == ChangedFlag) state.drop("changed") else state,
      loop, fixed, rows)
  }

  private def noneChanged(df: DataFrame): Boolean =
    df.filter(col("changed")).isEmpty

  /** Divides column `v` by its sorted-fold total. Broadcast path: the
    * total crosses as the exact collected double (division by the
    * literal is the same IEEE op as by the broadcast column), and its
    * collect is the job that materializes the lazy round. An empty
    * state folds an empty list to a 0.0 total and stays empty. */
  private def normalize(m: DataFrame, v: String,
                        coPartition: Boolean): DataFrame = {
    val rest = m.columns.filter(_ != v).map(col)
    if (coPartition) {
      val tot = m.agg(foldSum(col(v)).as("__t"))
      m.crossJoin(broadcast(tot)).select(rest :+ (col(v) / col("__t")).as(v): _*)
    } else {
      val t = m.agg(foldSum(col(v))).head().getDouble(0)
      m.select(rest :+ (col(v) / lit(t)).as(v): _*)
    }
  }
}
