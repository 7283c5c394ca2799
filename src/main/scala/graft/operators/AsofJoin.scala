package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** As-of (time-travel) join — an operator Spark lacks natively and the
  * classic extension case (SURVEY §2.3 "not present"): for each event,
  * the most recent order at-or-before it for the same customer.
  *
  * Implementation is the merge-union formulation, not a pairwise join:
  * tag both inputs, union, sort within customer by (ts, tag), and carry
  * the last seen order id forward with a windowed last(ignoreNulls).
  * One shuffle + sort; cost is O((|events|+|orders|) log partition) per
  * key with NO per-key cross-pairing — the shape that survives 100 TB,
  * unlike `events ⋈ orders ON user AND order_ts <= ts` + argmax, which
  * explodes on active customers.
  *
  * Determinism: orders are pre-deduped to max order id per (customer,
  * ts); orders sort before events at equal ts (tag 0 < 1), giving the
  * inclusive `event.ts >= order.ts` semantics DuckDB's native ASOF JOIN
  * uses — which is the oracle.
  */
object AsofJoin {

  def eventsToLastOrder(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate")).as("ts_us"))
      .agg(max("o_orderkey").as("order_id"))
      .select(col("user_id"), col("ts_us"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"), col("order_id"))
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        lit(1).as("tag"), col("event_id"),
        lit(null).cast("long").as("order_id"))
    val w = Window.partitionBy("user_id")
      .orderBy("ts_us", "tag", "order_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("last_order_id",
        last("order_id", ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_order_id").as("order_id"))
      .orderBy("event_id")
  }
}
