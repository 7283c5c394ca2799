package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Range (band) join — the second classic missing-from-Spark operator
  * (SURVEY §2.3 "not present"): pairs within a time distance. The naive
  * plan `a ⋈ b ON key AND |a.ts − b.ts| <= w` degenerates to a per-key
  * nested loop; the scalable shape is bucketization: quantize time into
  * w-sized buckets, equi-join on (key, bucket) for bucket ∈ {b−1, b, b+1}
  * (one explode, factor-3 fan-out), then apply the exact band predicate.
  * Candidate cost is bounded by bucket co-occupancy, never |a|×|b| per
  * key.
  */
object RangeJoin {

  /** For each event, the same customer's orders within `windowHours` of
    * the event time: count + closest distance. */
  def eventsNearOrders(spark: SparkSession, dir: String,
                       windowHours: Int = 24 * 14): DataFrame = {
    val wUs = windowHours.toLong * 3600L * 1000000L
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("user_id"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("ots"))
      .withColumn("bucket", floor(col("ots") / wUs))
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ets"))
      .withColumn("b0", floor(col("ets") / wUs))
      .withColumn("bucket", explode(array(col("b0") - 1, col("b0"),
        col("b0") + 1)))
    ev.join(ord, Seq("user_id", "bucket"))
      .filter(abs(col("ets") - col("ots")) <= wUs)
      .groupBy("event_id", "user_id")
      .agg(count(lit(1)).as("n_orders_near"),
        min(abs(col("ets") - col("ots"))).as("closest_us"))
      .orderBy("event_id")
  }
}
