package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains and test base build a session: the
  * caller picks the master and the shuffle partitions, this pins the
  * session time zone to UTC (event-time math and the oracles' epoch
  * conventions assume it — [[Tables.normalizeTs]] refuses any other
  * zone), turns the web UI off and sets the log level. Nothing here is
  * needed for correctness beyond UTC: table types are declared in
  * [[Tables]], so a session built elsewhere reads the same values. */
object Session {
  def local(master: String, shufflePartitions: String,
            logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
