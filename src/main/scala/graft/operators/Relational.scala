package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's scalar relational surface (SURVEY §2.1-2.2, §2.4-2.7):
  * projections, point lookups, enum filters, casts/literals, distinct,
  * scalar counts, MERGE-style dedup, top-k, previews, relabel unions.
  *
  * All queries are totally ordered (FIXTURES.md §3) so the DuckDB
  * hash-match is deterministic. All are single-pass scans or one-shuffle
  * aggregations; nothing here collects to the driver.
  */
object Relational {

  /** S1+P1 — full scan with column projection (reference `app/etl.py:141-164`).
    * Catalyst prunes the parquet read schema to the three columns. */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** P2 — parameterized point lookup (reference `app/main.py:53` `{id:$pid}`).
    * The equality predicate reaches the parquet scan as a pushed filter. */
  def pointLookup(spark: SparkSession, dir: String, key: Long): DataFrame =
    Tables.load(spark, dir, "part").filter(col("p_partkey") === key)

  /** P3 inequality + P4 enum-domain filter + P5 per-type bucketing
    * (reference `01_schema.sql:37` CHECK, `app/etl.py:256-262` split).
    * The reference's client-side loop collapses to one groupBy. */
  def filterEnumCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  /** P6+P7+F3+F4 — projection to API row shape with cast-widen and literal
    * columns (reference `app/main.py:62-69`: `float(score)`, `reason`). */
  def projectCastLiteral(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("id"),
        col("o_custkey").cast("double").as("score"),
        lit("projected").as("reason"))
      .orderBy("id")
      .limit(100)

  /** A2 — DISTINCT projection (reference `app/main.py:115`). */
  def distinctProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select("o_orderpriority").distinct()
      .orderBy("o_orderpriority")

  /** A3/A4 — scalar sanity count (reference `docker-compose.yml:84,98`). */
  def scalarCount(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part").agg(count(lit(1)).as("products"))

  /** A5 — MERGE-node upsert semantics: last-write-wins per key (reference
    * `app/etl.py:173-178` `MERGE (x {id}) SET x.prop = row.prop`). Here:
    * the latest event per user. Window dedup, not dropDuplicates, because
    * MERGE order matters; tie-broken on event_id for determinism. */
  def dedupLastWrite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(desc("ts"), desc("event_id"))
    Tables.load(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
      .orderBy("user_id")
  }

  /** O1 — top-k by measure (reference `ORDER BY score DESC LIMIT 10`,
    * `app/main.py:56-57`). Compiles to TakeOrderedAndProject: each
    * partition keeps k rows, no global sort — the plan that survives 100 TB. */
  def topkOrders(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(k)

  /** O3 — preview LIMIT (reference `docker-compose.yml:83`
    * `SELECT * FROM orders LIMIT 5`) with the mandatory total order. */
  def limitPreview(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .orderBy("o_orderkey")
      .limit(5)

  /** F1+F2+§2.6 — lower-casing + categorical relabel (reference
    * `app/etl.py:250-262`). The reference's three per-type load loops are a
    * disjoint union after relabeling; one when/otherwise chain replaces
    * them, keeping the whole thing in one codegen'd pass. Unknown types
    * drop (the reference's `else: continue`). */
  val relTypeOf: org.apache.spark.sql.Column = {
    val t = lower(col("event_type"))
    when(t === "view", "VIEWED")
      .when(t === "click", "CLICKED")
      .when(t === "add_to_cart", "ADDED_TO_CART")
      .when(t === "purchase", "PURCHASED")
      .when(t === "signup", "SIGNED_UP")
      .when(t === "error", "ERRORED")
      .otherwise(null)
  }

  def eventRelabel(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("rel_type", relTypeOf)
      .filter(col("rel_type").isNotNull)
      .select("event_id", "rel_type")
      .orderBy("event_id")

  /** Money columns carried as exact integer cents. `round(x*100)` lands on
    * the true cent value (the data is within 1e-9 of exact cents, never at
    * a .5 boundary), and integer sums are bit-identical across engines —
    * unlike float→decimal casts, whose string-vs-binary scaling diverges
    * between Spark and DuckDB at ~1e-10 (round-1 hash failures). */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * lit(100)).cast("long")

  /** Exact wide-accumulator sum for cents columns: decimal(30,0) terms
    * accumulate into decimal(38,0) (Spark's precision cap) — headroom to
    * ~1e38, where a plain Long sum hits 2^63 ≈ 9.2e18 around 1e11 Q1 rows
    * per group at the 100 TB design point (ADVICE r2). The DuckDB twin is
    * the bare sum(BIGINT) → HUGEINT (~1.7e38), and both engines convert
    * the exact integer to the same correctly-rounded double at the final
    * division. */
  def centsSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast("decimal(30,0)"))

  /** ROLLUP pricing summary — grouping-sets coverage beyond the
    * reference's flat GROUP BY: per (flag, status), per flag, and grand
    * total in one pass (partial aggregation handles all levels map-side). */
  def rollupPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        (centsSum(cents(col("l_quantity"))) / lit(100.0)).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** CUBE over (returnflag, linestatus) — all four grouping granularities
    * in one pass (completes the grouping-sets family next to
    * [[rollupPricing]]); Spark expands to a single exchange with a
    * grouping-id, not four scans. Exact-cents sums as everywhere. */
  def cubePricing(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        (centsSum(cents(col("l_quantity"))) / lit(100.0)).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** The declared event-type vocabulary (01_schema.sql:37's CHECK set
    * plus the testdata's extra types). */
  val EventTypes: Seq[String] =
    Seq("view", "click", "add_to_cart", "purchase", "signup", "error")

  /** PIVOT: user-cohort × event-type count matrix. The pivot values are
    * the DECLARED vocabulary, not discovered — pivot without an explicit
    * value list costs an extra distinct pass over the fact table and
    * produces a schema the planner can't know up front (the 100 TB
    * rule). Absent combinations surface as 0, matching the oracle's
    * conditional counts. */
  def pivotEventMatrix(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "events")
      .withColumn("cohort", (col("user_id") % 10).cast("bigint"))
      .withColumn("et", lower(col("event_type")))
      .groupBy("cohort")
      .pivot("et", EventTypes)
      .agg(count(lit(1)))
    p.select(col("cohort") +: EventTypes.map(t =>
        coalesce(col(s"`$t`"), lit(0L)).as(t)): _*)
      .orderBy("cohort")
  }

  /** Exact lower-median of `value` per `key` — the deterministic
    * row_number formulation (value at position ⌊(n+1)/2⌋ of the sorted
    * group): engine-portable where native median()/quantile() functions
    * differ on interpolation, and a per-group TakeOrdered-shaped window,
    * never a global sort. `tieBreak` pins row order among equal values;
    * the SELECTED VALUE is tie-independent. */
  def lowerMedianBy(df: DataFrame, key: Column, value: Column,
                    tieBreak: Column): DataFrame =
    df.select(key.as("key"), value.as("value"), tieBreak.as("tb"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy("value", "tb")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("key")))
      // integer ⌊(n+1)/2⌋ — Column./ is double division, hence the cast
      .filter(col("rn") === ((col("n") + 1) / 2).cast("long"))
      .select(col("key"), col("value").as("median"))

  /** Exact p10/p50/p90 per group in ONE window pass — rank picks at
    * ⌈p·n⌉ (discrete, no interpolation → engine-portable), conditional
    * max over the three pinned ranks. Same per-group-window scale shape
    * as [[lowerMedianBy]]. */
  def percentilesBy(df: DataFrame, key: Column, value: Column,
                    tieBreak: Column): DataFrame = {
    val rn = row_number().over(Window.partitionBy("key")
      .orderBy("value", "tb"))
    val n = count(lit(1)).over(Window.partitionBy("key"))
    def rankOf(p: Int): org.apache.spark.sql.Column =
      expr(s"(n * $p + 99) div 100") // ⌈p·n/100⌉, pure integer math
    df.select(key.as("key"), value.as("value"), tieBreak.as("tb"))
      .withColumn("rn", rn).withColumn("n", n)
      .groupBy("key")
      .agg(max(when(col("rn") === rankOf(10), col("value"))).as("p10"),
        max(when(col("rn") === rankOf(50), col("value"))).as("p50"),
        max(when(col("rn") === rankOf(90), col("value"))).as("p90"))
  }

  /** Retail-price percentile bands per brand (exact, deterministic). */
  def pricePercentilesPerBrand(spark: SparkSession, dir: String): DataFrame =
    percentilesBy(Tables.load(spark, dir, "part"),
      col("p_brand"), col("p_retailprice"), col("p_partkey"))
      .withColumnRenamed("key", "brand")
      .orderBy("brand")

  /** Median retail price per brand (exact, deterministic). */
  def medianPricePerBrand(spark: SparkSession, dir: String): DataFrame =
    lowerMedianBy(Tables.load(spark, dir, "part"),
      col("p_brand"), col("p_retailprice"), col("p_partkey"))
      .withColumnRenamed("key", "brand")
      .withColumnRenamed("median", "median_price")
      .orderBy("brand")

  /** Several DISTINCT aggregates in one pass — planned through Spark's
    * Expand operator (one row replicated per distinct-aggregate group),
    * the standard multi-distinct shape; a naive approach would run one
    * job per distinct column. */
  def multiDistinctStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .groupBy(col("p_brand").as("brand"))
      .agg(countDistinct(col("p_size")).as("n_sizes"),
        countDistinct(col("p_type")).as("n_types"),
        count(lit(1)).as("n_parts"),
        (centsSum(cents(col("p_retailprice"))) / lit(100.0))
          .as("sum_price"))
      .orderBy("brand")

  /** HLL approximate distinct next to the exact count — the sketch tier
    * for 100 TB cardinalities where exact distinct means a full shuffle.
    * No DuckDB oracle (sketches differ across engines); the ±5% accuracy
    * contract is asserted in RelationalSpec. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .agg(approx_count_distinct("l_partkey").as("approx_parts"),
        countDistinct("l_partkey").as("exact_parts"))

  /** Window-ranking coverage (absent from the reference, SURVEY §2.5):
    * top-3 parts per brand by retail price — partitioned row_number with a
    * total tie-break. Passthrough values only → oracle-safe. */
  def topProductsPerBrand(spark: SparkSession, dir: String,
                          k: Int = 3): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(desc("p_retailprice"), asc("p_partkey"))
    Tables.load(spark, dir, "part")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("p_brand", "rk", "p_partkey", "p_name", "p_retailprice")
      .orderBy("p_brand", "rk")
  }

  /** Edit-distance fuzzy matching (the string tier of near-dup detection):
    * parts closest to a probe name by Levenshtein distance. Integer
    * distances → exact oracle. At corpus scale the probe side stays a
    * broadcast literal inside one codegen'd scan + TakeOrdered. */
  def fuzzyPartNames(spark: SparkSession, dir: String,
                     probe: String = "spring green yellow purple cornsilk",
                     k: Int = 10): DataFrame =
    Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_name"),
        levenshtein(col("p_name"), lit(probe)).cast("long").as("dist"))
      .orderBy(asc("dist"), asc("p_partkey"))
      .limit(k)

  /** Outer-join coverage (absent from the reference, SURVEY §2.3): nations
    * with their customer counts, keeping empty nations — nulls from the
    * outer side coalesce to zero. Dimension side broadcast. */
  def nationCustomerCounts(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val perNation = Tables.load(spark, dir, "customer")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
    // The hint must sit on the build (right) side: for LEFT OUTER Spark
    // can only broadcast-build the non-preserved side.
    nation
      .join(broadcast(perNation),
        col("n_nationkey") === col("c_nationkey"), "left_outer")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"))
      .orderBy("n_nationkey")
  }

  /** Set operations (absent from the reference, SURVEY §2.6; covered for
    * engine completeness): customers appearing in orders vs events —
    * intersect / except / union all, one count per branch. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val orderCusts = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("c")).distinct()
    val eventCusts = Tables.load(spark, dir, "events")
      .select(col("user_id").as("c")).distinct()
    val both = orderCusts.intersect(eventCusts).agg(count(lit(1)).as("n"))
      .select(lit("intersect").as("op"), col("n"))
    val onlyOrders = orderCusts.except(eventCusts).agg(count(lit(1)).as("n"))
      .select(lit("except").as("op"), col("n"))
    val all = orderCusts.unionAll(eventCusts).agg(count(lit(1)).as("n"))
      .select(lit("union_all").as("op"), col("n"))
    both.unionByName(onlyOrders).unionByName(all).orderBy("op")
  }

  /** Approximate quantiles (KLL-family sketch) beside exact — the other
    * sketch tier for 100 TB distributions. Rows-only (sketch impls differ
    * across engines); accuracy contract tested in RelationalSpec. */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
        .as("approx_median"),
        expr("percentile(o_totalprice, 0.5)").as("exact_median"))

  /** Sketch-tier bounded-error audit — the graphx_float_audit pattern
    * applied to the three sketch rows, converting their declared
    * accuracy contracts into one hash-checkable frame the driver greens
    * every round (rows-only tier shrinks accordingly):
    *  - hll: approx_count_distinct within ±5% of the exact distinct
    *    (Spark's default HLL precision contract);
    *  - quantiles: percentile_approx(accuracy=10000) lands at rank
    *    0.5 ± 1/accuracy of the exact total order (the sketch's actual
    *    guarantee — checked in RANK space, not value space);
    *  - cms: estimates never undercount and overcount ≤ ε·N under the
    *    fixed seed ([[graft.text.TextAnalysis.cmsAuditOk]]).
    * Deterministic (fixed seeds, fixed data) → the oracle pins
    * (true, true, true). Driver-fold row by design: the k-row/1-row
    * collects behind each check are the sanctioned serving-shim shape
    * (skip-listed in PlanAuditSpec like the float audit). */
  def sketchAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The three family checks are independent job chains none of which
    // saturates the executor pool — run them concurrently (the
    // convergence_audit pattern) so the row's wall is the slowest
    // family, not the sum (r15: 23 sequential jobs, ~2.3 s → max-chain).
    import scala.concurrent.{Await, Future, ExecutionContext}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Every family runs under one cancellable job group (thread-local,
    // so each pool thread tags its own jobs): pool.shutdown() alone
    // would leave in-flight job chains running detached on an Await
    // timeout or a fast-failing sibling, competing with whatever query
    // runs next (r15 advice #3). The id is per call, so cancelling one
    // audit never kills a concurrent audit's jobs.
    val jobGroup = s"sketch-audit-${java.util.UUID.randomUUID}"
    def grouped[T](body: => T): Future[T] = Future {
      spark.sparkContext.setJobGroup(jobGroup, "sketch_audit family",
        interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    }
    try {
      val hllF = grouped {
        val ad = approxDistinct(spark, dir).head()
        math.abs(ad.getLong(0).toDouble - ad.getLong(1)) <=
          0.05 * ad.getLong(1)
      }
      val qF = grouped {
        val aq = approxQuantiles(spark, dir).head()
        val am = aq.getDouble(0)
        val fr = Tables.load(spark, dir, "orders").agg(
          count(when(col("o_totalprice") < am, 1)).as("lt"),
          count(when(col("o_totalprice") <= am, 1)).as("le"),
          count(lit(1)).as("n")).head()
        val (lt, le, n) = (fr.getLong(0), fr.getLong(1), fr.getLong(2))
        val rankEps = 1.0 / 10000
        lt.toDouble / n <= 0.5 + rankEps &&
          le.toDouble / n >= 0.5 - rankEps
      }
      val cmsF = grouped { graft.text.TextAnalysis.cmsAuditOk(spark, dir) }
      val (hllOk, qOk, cmsOk) =
        try Await.result(
          hllF.zip(qF).zip(cmsF).map { case ((h, q), c) => (h, q, c) },
          scala.concurrent.duration.Duration(30, "min"))
        catch { case t: Throwable =>
          spark.sparkContext.cancelJobGroup(jobGroup)
          throw t
        }
      Seq(("cms", cmsOk), ("hll", hllOk), ("quantiles", qOk))
        .toDF("family", "agrees").orderBy("family")
    } finally pool.shutdown()
  }

  /** Exact WHOLE-TABLE quantiles (p50/p90/p99 of order totals) with no
    * global window: [[Ranks.withGlobalPos]] assigns each row its exact
    * position in the total order via range partitions (the distributed
    * zipWithIndex), and the quantile rows are rank-picked at ⌈p·n⌉
    * (discrete — no interpolation, engine-portable, ties broken by
    * o_orderkey so the pick is deterministic). The exact complement of
    * the [[approxQuantiles]] sketch tier: at 100 TB the sketch is the
    * cheap first answer and this is the auditable exact path, both
    * scale-clean — here no task ever sees more than one range
    * partition's rows. A row matching several pick ranks (tiny n)
    * emits once per rank via the compacted array explode. */
  def quantilesGlobalExact(spark: SparkSession, dir: String): DataFrame = {
    val picks = Seq(50, 90, 99)
    val ranked = Ranks.withGlobalPos(
      Tables.load(spark, dir, "orders")
        .select(col("o_totalprice").as("value"), col("o_orderkey")),
      Seq(col("value"), col("o_orderkey")), "__pos")
    ranked
      .withColumn("p", explode(array_compact(array(picks.map(p =>
        when(col("__pos") === expr(s"(__n * $p + 99) div 100"),
          lit(p))): _*))))
      .select(col("p"), col("value"))
      .orderBy("p")
  }

  /** S7 — liveness probe (reference `SELECT 1`, `app/etl.py:46-47`). */
  def health(spark: SparkSession, dir: String): DataFrame = {
    val _ = dir
    spark.range(1).select(lit(1L).as("ok"))
  }

  /** TPC-H-Q1-shaped pricing summary — the canonical partial+final hash
    * aggregation showcase (map-side combine means the shuffle carries one
    * row per group per partition regardless of input size). Money sums run
    * in exact integer cents (see [[cents]]) so the result is both
    * order-independent — double summation would be nondeterministic across
    * partitionings — and bit-identical to any other engine's exact sum.
    * disc_price = price_cents * (100 - disc_cents) is exact in 1e-4 units. */
  /** Data-profiling pass over `orders`: per-column null and exact
    * distinct counts in ONE scan — the multi-DISTINCT Expand plan (one
    * shuffle, map-side partial) rather than a job per column — then a
    * tiny unpivot of the single summary row. */
  def profileOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val cols = o.columns.toSeq
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
        countDistinct(col(c)).as(s"distinct_$c")))
    val row = o.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map(c =>
      s"'$c', nulls_$c, distinct_$c").mkString(", ")
    row.selectExpr("n_rows", s"stack(${cols.length}, $perCol) " +
        "as (col_name, n_nulls, n_distinct)")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"))
      .orderBy("col_name")
  }

  /** Referential-integrity audit across the star schema's FK edges: one
    * row per relation with its orphan count (child keys with no parent —
    * including NULL keys, which can never match). Each check is a single
    * LEFT JOIN against the distinct parent-key set (broadcast-sized dims
    * here, shuffle-hash on the key at scale) folded to one row — no
    * per-violation materialization, so a billion orphans cost the same
    * as zero. The upstream guard of GraphBuilder's endpoint-validated
    * edges, surfaced as a report. */
  def fkIntegrityReport(spark: SparkSession, dir: String): DataFrame = {
    def check(fk: String, child: DataFrame, key: String,
              parent: DataFrame, pkey: String): DataFrame =
      child.select(col(key))
        .join(parent.select(col(pkey).as(key)).distinct()
          .withColumn("_hit", lit(1)), Seq(key), "left")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("_hit").isNull, 1)).as("n_orphans"))
        .select(lit(fk).as("fk"), col("n_rows"), col("n_orphans"))
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    val customer = Tables.load(spark, dir, "customer")
    val supplier = Tables.load(spark, dir, "supplier")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    Seq(
      check("customer.c_nationkey->nation", customer, "c_nationkey",
        nation, "n_nationkey"),
      check("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
        orders, "o_orderkey"),
      check("lineitem.l_partkey->part", lineitem, "l_partkey",
        Tables.load(spark, dir, "part"), "p_partkey"),
      check("nation.n_regionkey->region", nation, "n_regionkey",
        region, "r_regionkey"),
      check("orders.o_custkey->customer", orders, "o_custkey",
        customer, "c_custkey"),
      check("supplier.s_nationkey->nation", supplier, "s_nationkey",
        nation, "n_nationkey")
    ).reduce(_.unionByName(_)).orderBy("fk")
  }

  /** Incremental-view-maintenance shape: aggregate an "old" partition
    * and an appended "new" partition SEPARATELY, then merge the partials
    * — count and sum are mergeable, so the merged result is exactly the
    * direct aggregate (the oracle computes it directly; hash-match IS
    * the mergeability proof). This is the algebraic core of every
    * incremental pipeline at 100 TB: never rescan history, merge
    * partials. Both partials are map-side-combinable. */
  def incrementalAggMerge(spark: SparkSession, dir: String,
                          cutoff: String = "2024-01-15"): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"), cents(col("value")).as("v_c"))
    val cut = lit(cutoff).cast("timestamp")
    def partial(df: DataFrame): DataFrame =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), centsSum(col("v_c")).as("sum_c"))
    partial(ev.filter(col("ts") < cut))
      .unionByName(partial(ev.filter(col("ts") >= cut)))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"),
        (sum(col("sum_c")) / lit(100.0)).as("sum_value"))
      .orderBy("event_type")
  }

  /** TPC-H Q3-shaped shipping-priority star join: selective dimension
    * filter (market segment) → orders → lineitem, exact-cents revenue,
    * top-10. The segment-filtered customer key set is a fraction of one
    * dimension — AQE's runtime size estimate decides broadcast vs
    * shuffle (no hand hint: at 100 TB the filtered side may exceed the
    * broadcast budget, and a forced hint would OOM the driver; the
    * filters and two-column projections push to every scan either way).
    * Dates compare as timestamps on both engines; the result carries
    * epoch-micros (proven hash-stable) rather than raw timestamps. */
  def q3Shipping(spark: SparkSession, dir: String,
                 segment: String = "BUILDING",
                 cutoff: String = "1998-06-01"): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === segment).select("c_custkey")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate")).as("order_date_us"),
        col("o_orderpriority"))
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .withColumn("price_c", cents(col("l_extendedprice")))
      .withColumn("disc_c", cents(col("l_discount")))
      .select("l_orderkey", "price_c", "disc_c")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "order_date_us", "o_orderpriority")
      .agg((sum(col("price_c").cast("decimal(30,0)") *
        (lit(100L) - col("disc_c"))) / lit(10000.0)).as("revenue"))
      .orderBy(desc("revenue"), asc("order_date_us"), asc("l_orderkey"))
      .limit(10)
  }

  /** Correlated-scalar-subquery shape ("orders above their customer's
    * average"), hand-decorrelated to the scalable plan: one grouped
    * aggregate per customer joined back on the same key. The comparison
    * is integer cross-multiplication (price·n > Σprice) — no division,
    * no float, exact on both engines. */
  def ordersAboveCustomerAvg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
    val s = o.groupBy("o_custkey")
      .agg(centsSum(col("price_c")).as("sum_c"), count(lit(1)).as("cnt"))
    o.join(s, "o_custkey")
      .filter(col("price_c").cast("decimal(30,0)") * col("cnt") > col("sum_c"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_above"))
      .orderBy("o_orderpriority")
  }

  /** The SQL front door: the same Q1 aggregation submitted as ANSI SQL
    * text through `spark.sql` over a registered view — proving a user
    * can drive this engine with SQL strings, not just the DataFrame
    * API. Catalyst compiles both to the same plan; the oracle is the
    * identical DuckDB formulation q1 uses. */
  def sqlApiQ1(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem")
      .createOrReplaceTempView("lineitem_v")
    spark.sql(
      """WITH li AS (SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c
        |  FROM lineitem_v WHERE l_shipdate <= TIMESTAMP '1998-09-02')
        |SELECT l_returnflag, l_linestatus,
        |  sum(CAST(qty_c AS DECIMAL(30,0))) / CAST(100 AS DOUBLE) AS sum_qty,
        |  sum(CAST(price_c AS DECIMAL(30,0))) / CAST(100 AS DOUBLE)
        |    AS sum_base_price,
        |  sum(CAST(price_c AS DECIMAL(30,0)) * (100 - disc_c))
        |    / CAST(10000 AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM li
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .withColumn("qty_c", cents(col("l_quantity")))
      .withColumn("price_c", cents(col("l_extendedprice")))
      .withColumn("disc_c", cents(col("l_discount")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        (centsSum(col("qty_c")) / lit(100.0)).as("sum_qty"),
        (centsSum(col("price_c")) / lit(100.0)).as("sum_base_price"),
        (sum(col("price_c").cast("decimal(30,0)") *
          (lit(100L) - col("disc_c"))) / lit(10000.0)).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
}
