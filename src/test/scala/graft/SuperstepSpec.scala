package graft

import graft.graph.{GraphAlgs, Superstep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Whole-loop parity across the state-join gate. sf0.001 never crosses
  * the gate, so each of GraphAlgs' seven propagation loops is driven
  * through the kernel directly, once per join strategy: the two final
  * states must hold the same rows with bit-identical doubles, the same
  * fixed-point answer, and come back materialized. (A conf flip on a new
  * session would not do: Memo is keyed by SparkContext, so the second
  * run would read the first run's memoized entries.) */
class SuperstepSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  /** Rows in canonical order, doubles as their raw IEEE bits. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Every leaf of the state's plan is a checkpoint whose data exists. */
  private def materialized(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }

  private lazy val pairs = graft.dedup.Dedup.minhashLshPairs(spark, dir)
    .select("d1", "d2").localCheckpoint(true)
  private lazy val pairMembers = GraphAlgs.pairMembers(pairs)

  // (loop, its builder for a join strategy, horizon, has a fixed-point
  // test). Each loop also runs a single round, so a monotone loop's last
  // round is reached before any probe could stop it early.
  private val loops = Seq[(String, Boolean => Superstep.Loop, Int, Boolean)](
    ("fixed ranks", GraphAlgs.rankLoop(spark, dir,
      GraphAlgs.SharedRankSeeds, _), 10, false),
    ("weighted ranks", GraphAlgs.weightedRankLoop(spark, dir, _), 5, false),
    ("lpa", GraphAlgs.lpaLoop(spark, dir, _), GraphAlgs.LpaRounds, true),
    ("hits", GraphAlgs.hitsLoop(spark, dir, _), 10, false),
    ("components", GraphAlgs.componentsLoop(spark, dir, _),
      GraphAlgs.ComponentsOracleRounds, true),
    ("k-core", GraphAlgs.kCoreLoop(spark, dir, 2, _), GraphAlgs.KCoreRounds,
      true),
    ("pair components",
      GraphAlgs.pairComponentsLoop(pairs, pairMembers, _), 5, true))

  for ((name, loop, horizon, probed) <- loops)
    test(s"$name: broadcast and co-partitioned runs agree bit for bit") {
      for (rounds <- Seq(1, horizon)) {
        val Seq(broadcast, coPartitioned) =
          Seq(false, true).map(cp => Superstep.run(loop(cp), rounds))
        for (r <- Seq(broadcast, coPartitioned))
          assert(materialized(r.state), s"$rounds rounds: state not " +
            s"materialized:\n${r.state.queryExecution.analyzed}")
        val rows = bits(broadcast.state)
        assert(rows.nonEmpty)
        assert(rows == bits(coPartitioned.state), s"$rounds rounds")
        if (probed) assert(broadcast.converged == coPartitioned.converged)
      }
    }
}
