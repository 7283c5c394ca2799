package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational

/** G1 — property-graph construction from relational tables (reference
  * `app/etl.py:108-288`): 6 scans → deduped node sets + join-validated edge
  * sets, as two canonical DataFrames:
  *
  *   nodes(id string, label string, name string)
  *   edges(src string, dst string, rel_type string, weight double)
  *
  * Semantics carried over from the reference:
  *  - MERGE node upsert (etl.py:173-178) → dedup by id, last-write-wins
  *    (A5); here sources are already keyed, so dropDuplicates suffices
  *    except CONTAINS weights (see below).
  *  - MERGE edge upsert (etl.py:202,230,243,276) → one edge per
  *    (src,dst,rel_type) (A6); many `view` events collapse to one VIEWED
  *    edge.
  *  - Cypher `MATCH` endpoint resolution (etl.py:196-205) drops edges whose
  *    endpoints don't exist → inner joins (referential-integrity semi-join),
  *    NOT outer joins (J6).
  *  - `SET r.quantity` on repeated MERGE (etl.py:243-244) → last row wins
  *    per (order, product); input order = lineitem order → window by
  *    l_linenumber descending (deterministic, unlike batch arrival order).
  *
  * Entity mapping (FIXTURES.md §1): Customer=customer, Product=part,
  * Order=orders, Category=p_brand, behavioral events=events with
  * `props.k` as the target product key.
  *
  * Scale: node/edge builds are scan + dedup (one shuffle each, partial
  * aggregation map-side); endpoint validation joins broadcast the dimension
  * side where small (category) and shuffle-hash elsewhere. Nothing
  * collects to the driver. At 100 TB, write `nodes`/`edges` partitioned by
  * `label`/`rel_type` so per-type queries prune files.
  */
object GraphBuilder {

  private def S(prefix: String, c: org.apache.spark.sql.Column) =
    concat(lit(prefix), c.cast("string"))

  // Node/edge frames are read by every graph query and by the GraphX
  // build; memoize + persist per (session, dir) — the canonical frames a
  // long-lived service keeps hot, or reads back via readNodes/readEdges.
  def nodes(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.get(spark, "graph-nodes", dir) {
      buildNodes(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def edges(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.get(spark, "graph-edges", dir) {
      buildEdges(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Declared node properties (sparse, typed columns — null where a label
    * doesn't define the property), per the reference's SET clauses:
    *  - Order.ts          ← o_orderdate   (etl.py:227 `SET o.ts = row.ts`)
    *  - Product.category_id ← p_brand     (etl.py:188-189)
    *  - Customer.join_date (etl.py:215-216) ← c_join_date, declared on
    *    the customer table: the seed fixture carries 02_seed.sql's dates,
    *    the TPC-H-shaped testdata has no stand-in column (FIXTURES.md §1)
    *    and reads null — same error-tolerant-extract posture as S2. */
  private[graph] def buildNodes(spark: SparkSession, dir: String): DataFrame = {
    val nullTs = lit(null).cast("timestamp")
    val nullStr = lit(null).cast("string")
    val nullDate = lit(null).cast("date")
    val customer = Tables.load(spark, dir, "customer")
      .select(S("C", col("c_custkey")).as("id"), lit("Customer").as("label"),
        col("c_name").as("name"), nullTs.as("ts"), nullStr.as("category_id"),
        col("c_join_date").as("join_date"))
    val product = Tables.load(spark, dir, "part")
      .select(S("P", col("p_partkey")).as("id"), lit("Product").as("label"),
        col("p_name").as("name"), nullTs.as("ts"),
        col("p_brand").as("category_id"), nullDate.as("join_date"))
    val order = Tables.load(spark, dir, "orders")
      .select(S("O", col("o_orderkey")).as("id"), lit("Order").as("label"),
        nullStr.as("name"), col("o_orderdate").as("ts"),
        nullStr.as("category_id"), nullDate.as("join_date"))
    val category = Tables.load(spark, dir, "part")
      .select(col("p_brand")).distinct()
      .select(S("B", col("p_brand")).as("id"), lit("Category").as("label"),
        col("p_brand").as("name"), nullTs.as("ts"), nullStr.as("category_id"),
        nullDate.as("join_date"))
    // MERGE upsert (A5): sources are keyed, dedup is a safety net for
    // re-runs / concatenated inputs (idempotency property, SURVEY §5.3).
    customer.unionByName(product).unionByName(order).unionByName(category)
      .dropDuplicates("id")
  }

  /** CONTAINS with `SET r.quantity` last-write-wins per (order, product).
    * The testdata carries duplicate (order, part, linenumber) rows with
    * DIFFERENT quantities, so linenumber alone is not a total order —
    * quantity is the deterministic final tie-break (mirrored in every
    * oracle twin; without it the row_number pick is engine-arbitrary). */
  def containsWithQuantity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey", "l_partkey")
      .orderBy(desc("l_linenumber"), desc("l_quantity"))
    Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(S("O", col("l_orderkey")).as("src"),
        S("P", col("l_partkey")).as("dst"),
        lit("CONTAINS").as("rel_type"),
        col("l_quantity").cast("double").as("weight"))
  }

  private[graph] def buildEdges(spark: SparkSession, dir: String): DataFrame = {
    val customerKeys = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"))
    val partKeys = Tables.load(spark, dir, "part").select(col("p_partkey"))

    // PLACED: customer -> order; endpoint-validated against customers (J7).
    val placed = Tables.load(spark, dir, "orders")
      .join(customerKeys, col("o_custkey") === col("c_custkey"))
      .select(S("C", col("o_custkey")).as("src"),
        S("O", col("o_orderkey")).as("dst"),
        lit("PLACED").as("rel_type"), lit(1.0).as("weight"))

    // CONTAINS endpoint validation (the reference MATCHes both the Order
    // and the Product before MERGE, etl.py:237-241): a lineitem row whose
    // orderkey/partkey has no node must not produce a dangling edge. With
    // this, EVERY edge family is endpoint-validated, so edge endpoints
    // always exist in `nodes` — the invariant GraphAlgs.degreesTop's
    // relational derivation relies on (ADVICE r2).
    val contains = containsWithQuantity(spark, dir)
      .join(Tables.load(spark, dir, "orders")
        .select(S("O", col("o_orderkey")).as("src")), Seq("src"), "left_semi")
      .join(Tables.load(spark, dir, "part")
        .select(S("P", col("p_partkey")).as("dst")), Seq("dst"), "left_semi")

    // IN_CATEGORY: product -> its brand-category.
    val inCategory = Tables.load(spark, dir, "part")
      .select(S("P", col("p_partkey")).as("src"),
        S("B", col("p_brand")).as("dst"),
        lit("IN_CATEGORY").as("rel_type"), lit(1.0).as("weight"))

    // Behavioral: user -> props.k product, relabeled per event type
    // (etl.py:249-279). Both endpoints MATCH-validated (dangling user 0 /
    // k 0 drop); MERGE collapses repeats to one edge per (src,dst,type).
    // Spread: relTypeOf + per-row JSON extraction would otherwise fuse
    // onto an unsplittable single-task scan (Tables.spread rationale).
    val behavioral = Tables.spread(spark, Tables.load(spark, dir, "events"))
      .withColumn("rel_type", Relational.relTypeOf)
      .filter(col("rel_type").isNotNull)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .join(customerKeys, col("user_id") === col("c_custkey"))
      .join(partKeys, col("k") === col("p_partkey"))
      .select(S("C", col("user_id")).as("src"), S("P", col("k")).as("dst"),
        col("rel_type"), lit(1.0).as("weight"))
      .dropDuplicates("src", "dst", "rel_type")

    placed.unionByName(contains).unionByName(inCategory)
      .unionByName(behavioral)
  }

  /** G2 — uniqueness-constraint assertion (reference `queries.cypher:2-16`):
    * Spark has no constraints; this is the audit query — must be empty. */
  def duplicateNodeIds(nodesDf: DataFrame): DataFrame =
    nodesDf.groupBy("id").agg(count(lit(1)).as("n")).filter(col("n") > 1)

  /** S5 — the graph sink (reference `app/etl.py:166-279`'s batched MERGE
    * load, reduced to one lazy DAG + write): canonical nodes/edges parquet
    * partitioned by label/rel_type, so per-label and per-type readers
    * prune whole directories — the layout the /recs queries and GraphX
    * loads would read at 100 TB. Overwrite-by-derivation replaces MERGE
    * idempotency (rerunning produces the same bytes). */
  def writeCanonical(spark: SparkSession, dir: String, outDir: String): Unit = {
    nodes(spark, dir).write.mode("overwrite")
      .partitionBy("label").parquet(s"$outDir/nodes")
    edges(spark, dir).write.mode("overwrite")
      .partitionBy("rel_type").parquet(s"$outDir/edges")
  }

  /** Readers for the canonical layout (partition pruning on label/type). */
  def readNodes(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/nodes")
  def readEdges(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/edges")
}
