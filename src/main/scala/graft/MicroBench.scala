package graft

/** Repeat-timer for individual registry queries: prints per-rep seconds,
  * so one-time memoized costs (GraphX view, IVF index) separate from
  * steady-state cost — Bench times each query once and can't tell them
  * apart on a noisy host. Usage: runMain graft.MicroBench <sfDir> <reps>
  * <query...> */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(s"local[$cpus]", cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (name <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[micro] $name rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
