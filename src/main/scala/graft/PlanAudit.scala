package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: dump formatted physical plans for representative queries
  * so scan pruning (PushedFilters/ReadSchema), broadcast choices, and
  * TakeOrderedAndProject shapes can be audited per change. Not part of the
  * driver contract. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("point_lookup", "rec_cooccurrence", "topk_orders",
        "q1_pricing_summary", "rec_customer", "dedup_ngram_jaccard",
        "scan_project")
    val spark = Session.local("local[8]", "8", logLevel = "ERROR")
    if (args.contains("--sweep")) sweep(spark, sfDir)
    else names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }

  /** Registry-wide single-partition audit (the fast twin of
    * PlanAuditSpec's sweep): prints every query whose plan routes a
    * SinglePartition exchange over something other than a bounded
    * aggregation — i.e. raw rows through one task. */
  private def sweep(spark: SparkSession, sfDir: String): Unit = {
    var bad = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLAN-ERROR ${e.getMessage}" }
      var at = plan.indexOf("Exchange SinglePartition")
      var viol = false
      while (at >= 0 && !viol) {
        val agg = plan.indexOf("HashAggregate", at)
        val scan = plan.indexOf("Scan parquet", at)
        viol = !(agg >= 0 && (scan < 0 || agg < scan))
        at = plan.indexOf("Exchange SinglePartition", at + 1)
      }
      if (viol || plan.startsWith("PLAN-ERROR")) {
        bad += 1; println(s"VIOLATION $name")
      }
    }
    println(s"sweep done: $bad violation(s)")
  }
}
