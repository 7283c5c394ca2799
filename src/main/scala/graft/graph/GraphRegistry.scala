package graft.graph

import graft.Registry

/** Registry + oracles for the graph build (G1-G3) and graph analytics
  * (G4-G6). GraphX-only results (PPR, PageRank, components) have no SQL
  * oracle → rows-only checks + ScalaTest fixtures (SURVEY §7 phase 3).
  */
object GraphRegistry {

  /** Landmark seed set for harmonic centrality — a bounded pivot set
    * (each Pregel message carries |S| distances), shared verbatim by the
    * Spark query and the oracle's CTE VALUES list. */
  private val HarmonicLandmarks = Seq("P1", "P2", "P3")

  /** DRIVER-VISIBLE fixed-point audit of every bounded-horizon
    * propagation twin (r9 advice #7): each family's registry row
    * computes "after N rounds" semantics that its DuckDB twin unrolls
    * identically — structurally equivalent regardless of convergence —
    * but whether the horizon REACHES the concept's fixed point
    * (components, communities, the true k-core, complete near-dup
    * clusters) is a data-dependent fact both engines can check: one
    * more round must change nothing. The Spark side re-runs one genuine
    * step off each family's memoized round-N state; the oracle unrolls
    * N+1 rounds and diffs the last two states — the graphx_float_audit
    * agreement-as-a-hashable-boolean pattern. A horizon that stops
    * binding on new data flips a row and the driver's hash compare
    * names the family, instead of the claim silently decaying.
    *
    * The five family probes are INDEPENDENT Spark job chains over
    * memoized state, so they run concurrently (five driver threads;
    * Spark actions are thread-safe, and Memo's per-key latching keeps
    * each shared root — edges, node ids, the und layout — built exactly
    * once with the other probes waiting). Serial, the row convoys the
    * first-payer cost of four propagation families end-to-end on a
    * 32-core host that each chain alone cannot saturate. */
  def convergenceAudit(s: org.apache.spark.sql.SparkSession,
                       d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val probes = Seq[(String, Long, () => Boolean)](
      ("components", GraphAlgs.ComponentsOracleRounds.toLong,
        () => GraphAlgs.componentLabels(s, d,
          GraphAlgs.ComponentsOracleRounds).converged),
      ("dedup_minhash", graft.dedup.Dedup.ClusterRounds.toLong,
        () => graft.dedup.Dedup.minhashConvergedWithin(s, d)),
      ("graph_kcore", GraphAlgs.KCoreRounds.toLong,
        () => GraphAlgs.kCoreAlive(s, d, GraphAlgs.KCoreK,
          GraphAlgs.KCoreRounds).converged),
      ("graph_lpa", GraphAlgs.LpaRounds.toLong,
        () => GraphAlgs.lpaLabels(s, d, GraphAlgs.LpaRounds).converged),
      ("sim_dup", graft.similarity.Similarity.ClusterRounds.toLong,
        () => graft.similarity.Similarity.dupConvergedWithin(s, d)))
    try {
      val fs = probes.map { case (fam, horizon, probe) =>
        Future {
          // Label the family's jobs (guide-standard setJobDescription,
          // thread-local so concurrent probes don't cross-tag): the
          // audit is the bench's largest row and its five chains are
          // indistinguishable in job-level profiles without this.
          s.sparkContext.setJobDescription(s"audit:$fam")
          // Per-family wall (VERDICT r12 item 7): at ~17 s this row is
          // the bench's largest and aggregates four families' first-pay —
          // a regression in one family hides inside the lump (r11's
          // MinHash cost did exactly that). The timings are measurements,
          // not semantics, so they ride the BENCH artifact
          // (convergence_families in BENCH_FULL_LATEST.json, compared
          // against the blessed run by the perf-drift gate), never this
          // hash-checked row. Families run concurrently; each wall is
          // its own end-to-end chain under that concurrency — the same
          // conditions every run, so cross-run ratios are meaningful.
          val t0 = System.nanoTime()
          val r = probe()
          convergenceFamilyMs.put(fam, (System.nanoTime() - t0) / 1000000L)
          (fam, horizon, r)
        }
      }
      Await.result(Future.sequence(fs),
          scala.concurrent.duration.Duration(30, "min"))
        .toDF("family", "horizon", "converged").orderBy("family")
    } finally pool.shutdown()
  }

  /** Last convergence_audit run's per-family wall (ms), for the bench
    * artifact's convergence_families field. */
  val convergenceFamilyMs =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** The canonical edge list, as DuckDB SQL — the oracle twin of
    * GraphBuilder.edges. Column names come from the first UNION branch. */
  private val EdgesSql =
    """SELECT 'C'||CAST(o.o_custkey AS VARCHAR) AS src,
      |       'O'||CAST(o.o_orderkey AS VARCHAR) AS dst, 'PLACED' AS rel_type
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |UNION ALL
      |SELECT 'O'||CAST(l_orderkey AS VARCHAR), 'P'||CAST(l_partkey AS VARCHAR), 'CONTAINS'
      |FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |UNION ALL
      |SELECT 'P'||CAST(p_partkey AS VARCHAR), 'B'||p_brand, 'IN_CATEGORY' FROM part
      |UNION ALL
      |SELECT DISTINCT 'C'||CAST(e.user_id AS VARCHAR), 'P'||CAST(e.k AS VARCHAR),
      |  CASE e.et WHEN 'view' THEN 'VIEWED' WHEN 'click' THEN 'CLICKED'
      |    WHEN 'add_to_cart' THEN 'ADDED_TO_CART'
      |    WHEN 'purchase' THEN 'PURCHASED' WHEN 'signup' THEN 'SIGNED_UP'
      |    WHEN 'error' THEN 'ERRORED' END
      |FROM (SELECT user_id, TRY_CAST(json_extract_string(props,'$.k') AS BIGINT) AS k,
      |             lower(event_type) AS et FROM events
      |      WHERE lower(event_type) IN ('view','click','add_to_cart','purchase','signup','error')) e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN part p ON e.k = p.p_partkey""".stripMargin

  /** All node ids (ids are unique by construction, so UNION ALL). */
  private val NodeIdsSql =
    """SELECT 'C'||CAST(c_custkey AS VARCHAR) AS id FROM customer
      |UNION ALL SELECT 'P'||CAST(p_partkey AS VARCHAR) FROM part
      |UNION ALL SELECT 'O'||CAST(o_orderkey AS VARCHAR) FROM orders
      |UNION ALL SELECT DISTINCT 'B'||p_brand FROM part""".stripMargin

  /** Twin of GraphAlgs.pageRankFixedTop: the same fixed iterations
    * unrolled as CTEs, per-dst sums in the same sorted-fold order →
    * bit-identical doubles. */
  private def pageRankSql(iters: Int, k: Int): String = {
    val head =
      s"""WITH nodes AS ($NodeIdsSql),
         |e AS MATERIALIZED (SELECT src, dst FROM ($EdgesSql)),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes)""".stripMargin
    // r$i MATERIALIZED: the last rank relation is read twice (total +
    // final select), and materializing every level keeps the plan linear.
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS id,
         |  list_sum(list_sort(list(r.rank / o.outdeg))) AS inr
         |  FROM e JOIN r${i - 1} r ON r.id = e.src
         |         JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT n.id,
         |  CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * coalesce(c.inr, 0.0) AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (id))""".stripMargin
    }
    (head +: iterCtes).mkString(",\n") +
      s""",
         |tot AS (SELECT list_sum(list_sort(list(rank))) AS t FROM r$iters),
         |nv AS (SELECT count(*) AS n FROM nodes)
         |SELECT id, rank * (SELECT n FROM nv) / (SELECT t FROM tot) AS rank
         |FROM r$iters ORDER BY rank DESC, id LIMIT $k""".stripMargin
  }

  /** Weighted edge list with integer-cent weights: CONTAINS carries the
    * last-write quantity (endpoint-validated like the Spark build), all
    * other families 1.00. */
  private val WeightedEdgesSql =
    s"""SELECT src, dst, CAST(100 AS BIGINT) AS w_c FROM ($EdgesSql)
       |WHERE rel_type <> 'CONTAINS'
       |UNION ALL
       |SELECT 'O'||CAST(cw.l_orderkey AS VARCHAR),
       |  'P'||CAST(cw.l_partkey AS VARCHAR),
       |  CAST(round(cw.l_quantity * 100) AS BIGINT)
       |FROM (SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
       |      QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey
       |        ORDER BY l_linenumber DESC, l_quantity DESC) = 1) cw
       |JOIN orders ON cw.l_orderkey = o_orderkey
       |JOIN part ON cw.l_partkey = p_partkey""".stripMargin

  /** Twin of GraphAlgs.weightedPageRankTop: same unrolled iterations,
    * same r·w_c/wout_c op order, same sorted per-dst folds. */
  private def weightedPageRankSql(iters: Int, k: Int): String = {
    val head =
      s"""WITH nodes AS ($NodeIdsSql),
         |we AS MATERIALIZED ($WeightedEdgesSql),
         |wout AS (SELECT src, CAST(sum(w_c) AS BIGINT) AS wout_c
         |         FROM we GROUP BY src),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"""
        .stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT we.dst AS id,
         |  list_sum(list_sort(list(r.rank * we.w_c / o.wout_c))) AS inr
         |  FROM we JOIN r${i - 1} r ON r.id = we.src
         |         JOIN wout o ON o.src = we.src
         |  GROUP BY we.dst),
         |r$i AS MATERIALIZED (SELECT n.id,
         |  CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * coalesce(c.inr, 0.0) AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (id))""".stripMargin
    }
    (head +: iterCtes).mkString(",\n") +
      s"""\nSELECT id, rank FROM r$iters
         |ORDER BY rank DESC, id LIMIT $k""".stripMargin
  }

  /** Twin of GraphAlgs.hitsFixedTop: same bipartite purchase relation,
    * same unrolled L1-normalized half-steps, same sorted folds — every
    * intermediate double bit-identical. */
  private def hitsSql(iters: Int, k: Int): String = {
    val head =
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS c,
         |    l_partkey AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM e)"""
        .stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""ar$i AS (SELECT p, list_sum(list_sort(list(h.h))) AS a
         |  FROM e JOIN h${i - 1} h USING (c) GROUP BY p),
         |at$i AS (SELECT list_sum(list_sort(list(a))) AS t FROM ar$i),
         |a$i AS MATERIALIZED (SELECT p, a / t AS a FROM ar$i, at$i),
         |hr$i AS (SELECT c, list_sum(list_sort(list(a.a))) AS h
         |  FROM e JOIN a$i a USING (p) GROUP BY c),
         |ht$i AS (SELECT list_sum(list_sort(list(h))) AS t FROM hr$i),
         |h$i AS MATERIALIZED (SELECT c, h / t AS h FROM hr$i, ht$i)"""
        .stripMargin
    }
    (head +: iterCtes).mkString(",\n") +
      s"""
         |SELECT kind, node_id, score, rk FROM (
         |  SELECT 'authority' AS kind, CAST(p AS BIGINT) AS node_id,
         |    a AS score,
         |    CAST(row_number() OVER (ORDER BY a DESC, p) AS BIGINT) AS rk
         |  FROM a$iters
         |  UNION ALL
         |  SELECT 'hub', CAST(c AS BIGINT), h,
         |    CAST(row_number() OVER (ORDER BY h DESC, c) AS BIGINT)
         |  FROM h$iters
         |) WHERE rk <= $k ORDER BY kind, rk""".stripMargin
  }

  /** Seed-pinned damped propagation CTE chain (twin of
    * GraphAlgs.pprFixedRanks), ending at r`iters`. */
  private def pprRanksSql(seed: String, iters: Int): String = {
    val head =
      s"""WITH nodes AS ($NodeIdsSql),
         |e AS MATERIALIZED (SELECT src, dst FROM ($EdgesSql)),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS MATERIALIZED (SELECT id,
         |  CASE WHEN id = $seed THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS rank
         |  FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS id,
         |  list_sum(list_sort(list(r.rank / o.outdeg))) AS inr
         |  FROM e JOIN r${i - 1} r ON r.id = e.src
         |         JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT n.id,
         |  (CASE WHEN n.id = $seed THEN CAST(0.15 AS DOUBLE)
         |        ELSE CAST(0.0 AS DOUBLE) END)
         |    + CAST(0.85 AS DOUBLE) * coalesce(c.inr, 0.0) AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (id))""".stripMargin
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Twin of GraphAlgs.pprFixedRecs: propagation + purchased anti-join. */
  private def pprRecsSql(custId: Long, iters: Int, k: Int): String =
    pprRanksSql(s"'C$custId'", iters) +
      s""",
         |mine AS (SELECT DISTINCT l_partkey AS product_id FROM lineitem
         |         JOIN orders ON l_orderkey = o_orderkey
         |         WHERE o_custkey = $custId)
         |SELECT CAST(substring(id, 2) AS BIGINT) AS product_id, rank
         |FROM r$iters
         |WHERE id LIKE 'P%' AND rank > 0
         |  AND CAST(substring(id, 2) AS BIGINT) NOT IN
         |      (SELECT product_id FROM mine)
         |ORDER BY rank DESC, product_id LIMIT $k""".stripMargin

  /** Twin of GraphAlgs.pprFixedTop. */
  private def pprTopSql(seedId: String, iters: Int, k: Int): String =
    pprRanksSql(s"'$seedId'", iters) +
      s"""
         |SELECT id, rank FROM r$iters
         |WHERE id <> '$seedId' AND rank > 0
         |ORDER BY rank DESC, id LIMIT $k""".stripMargin

  /** The convergence_audit oracle: five families, each unrolled one
    * round past its Scala horizon inside a scoped derived table. */
  private def convergenceAuditSql: String = {
    val cr = GraphAlgs.ComponentsOracleRounds
    val kr = GraphAlgs.KCoreRounds
    val lr = GraphAlgs.LpaRounds
    val mr = graft.dedup.Dedup.ClusterRounds
    val sr = graft.similarity.Similarity.ClusterRounds
    s"""SELECT * FROM (
       |SELECT 'components' AS family, CAST($cr AS BIGINT) AS horizon,
       |  conv AS converged FROM (
       |  WITH ${componentsCtes(cr + 1)}
       |  SELECT (SELECT count(*) FROM c$cr a JOIN c${cr + 1} b USING (id)
       |          WHERE a.comp <> b.comp) = 0 AS conv)
       |UNION ALL
       |SELECT 'dedup_minhash', CAST($mr AS BIGINT), conv FROM (
       |  WITH ${graft.dedup.DedupRegistry.minhashClusterCtes(mr + 1)}
       |  SELECT (SELECT count(*) FROM c$mr a JOIN c${mr + 1} b USING (id)
       |          WHERE a.comp <> b.comp) = 0 AS conv)
       |UNION ALL
       |SELECT 'graph_kcore', CAST($kr AS BIGINT), conv FROM (
       |  WITH ${kCoreCtes(GraphAlgs.KCoreK, kr + 1)}
       |  SELECT (SELECT count(*) FROM v$kr) =
       |         (SELECT count(*) FROM v${kr + 1}) AS conv)
       |UNION ALL
       |SELECT 'graph_lpa', CAST($lr AS BIGINT), conv FROM (
       |  WITH ${lpaCtes(lr + 1)}
       |  SELECT (SELECT count(*) FROM l$lr a JOIN l${lr + 1} b USING (id)
       |          WHERE a.label <> b.label) = 0 AS conv)
       |UNION ALL
       |SELECT 'sim_dup', CAST($sr AS BIGINT), conv FROM (
       |  WITH ${graft.similarity.SimilarityRegistry.dupAssignCtes(sr + 1)}
       |  SELECT (SELECT count(*) FROM c$sr a JOIN c${sr + 1} b USING (id)
       |          WHERE a.comp <> b.comp) = 0 AS conv)
       |) ORDER BY family""".stripMargin
  }

  /** CTE chain of the unrolled min-label rounds c0..cN — shared by the
    * components histogram twin and the convergence audit (which unrolls
    * one extra round and diffs the last two states). */
  private def componentsCtes(rounds: Int): String = {
    val head =
      s"""nodes AS ($NodeIdsSql),
         |e0 AS MATERIALIZED (SELECT src, dst FROM ($EdgesSql)),
         |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
         |c0 AS MATERIALIZED (SELECT id, id AS comp FROM nodes)""".stripMargin
    // MATERIALIZED is load-bearing: each round reads the previous one
    // TWICE, so an inlining planner would expand the chain 2^rounds times.
    val iterCtes = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT id, min(comp) AS comp FROM (
         |  SELECT id, comp FROM c${i - 1}
         |  UNION ALL
         |  SELECT u.dst AS id, c.comp FROM und u JOIN c${i - 1} c ON c.id = u.src
         |) GROUP BY id)""".stripMargin
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Twin of GraphAlgs.componentsFixedSizes (exact string mins). */
  private def componentsSql(rounds: Int): String =
    s"WITH ${componentsCtes(rounds)}" +
      s"""\nSELECT size, count(*) AS n_components FROM (
         |  SELECT comp, count(*) AS size FROM c$rounds GROUP BY comp
         |) GROUP BY size ORDER BY size""".stripMargin

  /** Twin of GraphAlgs.lpaCommunities: unrolled synchronous vote
    * rounds, count-desc-then-min-label argmax, isolated nodes keep
    * their own label. */
  private def lpaSql(rounds: Int, k: Int): String =
    s"WITH ${lpaCtes(rounds)}" +
      s"""
         |SELECT label AS community, count(*) AS n_members
         |FROM l$rounds GROUP BY label
         |ORDER BY n_members DESC, community LIMIT $k""".stripMargin

  /** CTE chain of the unrolled LPA vote rounds l0..lN — shared by the
    * communities twin and the convergence audit. */
  private def lpaCtes(rounds: Int): String = {
    val head =
      s"""nodes AS ($NodeIdsSql),
         |e0 AS MATERIALIZED (SELECT src, dst FROM ($EdgesSql)),
         |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
         |l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)""".stripMargin
    val iterCtes = (1 to rounds).map { i =>
      s"""v$i AS (SELECT u.dst AS id, lb.label, count(*) AS c
         |  FROM und u JOIN l${i - 1} lb ON lb.id = u.src GROUP BY 1, 2),
         |b$i AS (SELECT id, label FROM v$i
         |  QUALIFY row_number() OVER (PARTITION BY id
         |    ORDER BY c DESC, label) = 1),
         |l$i AS MATERIALIZED (SELECT n.id, coalesce(b.label, n.id) AS label
         |  FROM nodes n LEFT JOIN b$i b USING (id))""".stripMargin
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Unrolled k-core peeling twin. Every CTE is MATERIALIZED: each round
    * reads the previous survivor set twice (both endpoints) and the pair
    * set once — inlining would blow up exponentially (the components
    * lesson). Fixed rounds mirror GraphAlgs.kCoreSummary's early exit
    * exactly because peeling is monotone. */
  private def kCoreSql(k: Int, rounds: Int): String =
    s"WITH ${kCoreCtes(k, rounds)}" +
      s"""\nSELECT CAST($k AS BIGINT) AS k,
         |  (SELECT count(*) FROM v$rounds) AS n_core_vertices,
         |  (SELECT count(*) FROM pairs e
         |     JOIN v$rounds a ON e.p1 = a.p
         |     JOIN v$rounds b ON e.p2 = b.p) AS n_core_edges""".stripMargin

  /** CTE chain of the unrolled peel rounds v0..vN — shared by the
    * summary twin and the convergence audit. */
  private def kCoreCtes(k: Int, rounds: Int): String = {
    val head =
      s"""items AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
         |  FROM lineitem),
         |sane AS (SELECT order_id FROM items GROUP BY order_id
         |         HAVING count(*) <= ${GraphAlgs.MaxBasketSize}),
         |pairs AS MATERIALIZED (
         |  SELECT DISTINCT a.product_id AS p1, b.product_id AS p2
         |  FROM items a JOIN items b ON a.order_id = b.order_id
         |   AND a.product_id < b.product_id
         |  JOIN sane ON a.order_id = sane.order_id),
         |v0 AS MATERIALIZED (SELECT DISTINCT p FROM
         |  (SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs))"""
        .stripMargin
    val iters = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT p FROM (
         |    SELECT u.p, count(*) AS d FROM (
         |      SELECT e.p1 AS p FROM pairs e
         |        JOIN v${i - 1} a ON e.p1 = a.p JOIN v${i - 1} b ON e.p2 = b.p
         |      UNION ALL
         |      SELECT e.p2 FROM pairs e
         |        JOIN v${i - 1} a ON e.p1 = a.p JOIN v${i - 1} b ON e.p2 = b.p
         |    ) u GROUP BY 1)
         |  WHERE d >= $k)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** graph_node_props oracle, parameterized on whether the customer
    * fixture carries c_join_date — the same schema adaptivity the Spark
    * side applies in GraphBuilder.nodes (cast to DATE, then VARCHAR). */
  private def nodePropsSql(hasJoinDate: Boolean): String = {
    val joinDate =
      if (hasJoinDate) "CAST(CAST(c_join_date AS DATE) AS VARCHAR)"
      else "CAST(NULL AS VARCHAR)"
    s"""SELECT * FROM (
       |  SELECT 'C'||CAST(c_custkey AS VARCHAR) AS id, 'Customer' AS label,
       |    c_name AS name, CAST(NULL AS BIGINT) AS ts_us,
       |    CAST(NULL AS VARCHAR) AS category_id,
       |    $joinDate AS join_date
       |  FROM customer
       |  UNION ALL
       |  SELECT 'P'||CAST(p_partkey AS VARCHAR), 'Product', p_name,
       |    NULL, p_brand, NULL
       |  FROM part
       |  UNION ALL
       |  SELECT 'O'||CAST(o_orderkey AS VARCHAR), 'Order', NULL,
       |    epoch_us(o_orderdate), NULL, NULL
       |  FROM orders
       |  UNION ALL
       |  SELECT DISTINCT 'B'||p_brand, 'Category', p_brand,
       |    NULL, NULL, NULL
       |  FROM part
       |) ORDER BY id""".stripMargin
  }

  /** Fixture-adaptive oracle overlay: Verify calls this with the actual
    * data dir and dumps these strings INSTEAD of the static fallbacks,
    * so the oracle adapts exactly where the Spark query does. */
  def adaptiveOracles(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Map[String, String] = {
    val hasJoinDate = graft.Tables.load(spark, dir, "customer")
      .columns.contains("c_join_date")
    Map("graph_node_props" -> nodePropsSql(hasJoinDate))
  }

  val registry: Registry = Registry(
    queries = Map(
      // The three fixed-rank rows share one memoized propagation
      // (GraphAlgs.SharedRankSeeds) — per-column bits identical to the
      // standalone methods, so the oracles don't care.
      "pagerank_fixed_top" -> ((s, d) =>
        GraphAlgs.pageRankFixedTopShared(s, d)),
      "ppr_fixed_recs" -> ((s, d) => GraphAlgs.pprFixedRecsShared(s, d)),
      "ppr_fixed_top" -> ((s, d) => GraphAlgs.pprFixedTopShared(s, d)),
      "components_fixed_sizes" -> ((s, d) =>
        GraphAlgs.componentsFixedSizes(s, d)),
      "graph_nodes_by_label" -> ((s, d) =>
        GraphBuilder.nodes(s, d).groupBy("label")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .orderBy("label")),
      "graph_edges_by_type" -> ((s, d) =>
        GraphBuilder.edges(s, d).groupBy("rel_type")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .orderBy("rel_type")),
      // Node properties carried through the build (Order.ts,
      // Product.category_id, Customer.join_date): epoch-micros projection
      // for engine-portable timestamp compare.
      "graph_node_props" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        GraphBuilder.nodes(s, d)
          .select(col("id"), col("label"), col("name"),
            unix_micros(col("ts")).as("ts_us"), col("category_id"),
            col("join_date").cast("string").as("join_date"))
          .orderBy("id")
      }),
      "graph_contains_weights" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        // Exact-integer-cents sum (Relational.cents): bit-identical across
        // engines, unlike float→decimal casts (round-1 hash failure).
        GraphBuilder.containsWithQuantity(s, d)
          .groupBy("dst")
          .agg((graft.operators.Relational.centsSum(
            graft.operators.Relational.cents(col("weight"))) / lit(100.0))
            .as("total_qty"),
            count(lit(1)).as("n_orders"))
          .orderBy(desc("total_qty"), asc("dst"))
          .limit(20)
      }),
      "graph_degrees_top" -> ((s, d) => GraphAlgs.degreesTop(s, d)),
      "graph_degree_hist" -> ((s, d) => GraphAlgs.degreeHistogram(s, d)),
      "allpairs_cooccurrence" -> ((s, d) =>
        GraphAlgs.allPairsCoOccurrence(s, d)),
      "item_item_topk" -> ((s, d) => GraphAlgs.itemItemTopK(s, d)),
      "graphx_ppr_top" -> ((s, d) =>
        GraphAlgs.personalizedPageRank(s, d, "P1")),
      "graphx_pagerank_top" -> ((s, d) => GraphAlgs.pageRankTop(s, d)),
      "graphx_components" -> ((s, d) =>
        GraphAlgs.connectedComponentSizes(s, d)),
      "graphx_shortest_paths" -> ((s, d) =>
        GraphAlgs.shortestPathsTo(s, d, "P1")),
      "harmonic_centrality" -> ((s, d) =>
        GraphAlgs.harmonicCentrality(s, d, HarmonicLandmarks)),
      "graphx_ppr_recs" -> ((s, d) => GraphAlgs.pprRecs(s, d, 1L)),
      "graph_triangles" -> ((s, d) => GraphAlgs.triangleCount(s, d)),
      "graph_clustering_top" -> ((s, d) =>
        GraphAlgs.clusteringCoefficientTop(s, d)),
      "association_rules" -> ((s, d) => GraphAlgs.associationRules(s, d)),
      "graph_kcore" -> ((s, d) => GraphAlgs.kCoreSummary(s, d)),
      "graph_link_prediction" -> ((s, d) =>
        GraphAlgs.linkPredictionForProduct(s, d)),
      "weighted_pagerank_top" -> ((s, d) =>
        GraphAlgs.weightedPageRankTop(s, d)),
      "hits_fixed_top" -> ((s, d) => GraphAlgs.hitsFixedTop(s, d)),
      "graph_lpa_communities" -> ((s, d) => GraphAlgs.lpaCommunities(s, d)),
      "graph_assortativity" -> ((s, d) => GraphAlgs.degreeAssortativity(s, d)),
      // Bounded-error audit binding the three rows-only GraphX float
      // queries to their exact twins — the driver-visible promotion of
      // the float tier (the check runs in Spark; the oracle pins the
      // expected verdict per family).
      "graphx_float_audit" -> ((s, d) => GraphAlgs.graphxFloatAudit(s, d)),
      "convergence_audit" -> ((s, d) => convergenceAudit(s, d))
    ),
    oracles = Map(
      "graph_nodes_by_label" ->
        """SELECT label, count(*) AS n FROM (
          |  SELECT 'Customer' AS label FROM customer
          |  UNION ALL SELECT 'Product' FROM part
          |  UNION ALL SELECT 'Order' FROM orders
          |  UNION ALL SELECT 'Category' FROM (SELECT DISTINCT p_brand FROM part)
          |) GROUP BY label ORDER BY label""".stripMargin,
      "graph_edges_by_type" ->
        s"""SELECT rel_type, count(*) AS n FROM (
           |$EdgesSql
           |) GROUP BY rel_type ORDER BY rel_type""".stripMargin,
      "pagerank_fixed_top" -> pageRankSql(10, 20),
      "ppr_fixed_recs" -> pprRecsSql(1L, 10, 10),
      "ppr_fixed_top" -> pprTopSql("P1", 10, 10),
      "components_fixed_sizes" -> componentsSql(GraphAlgs.ComponentsOracleRounds),
      "graphx_float_audit" ->
        """SELECT * FROM (VALUES ('pagerank', true), ('ppr_recs', true),
          |  ('ppr_top', true)) t(family, agrees)
          |ORDER BY family""".stripMargin,
      // Fixed-point audit twin: unroll each family ONE round past its
      // horizon and diff the last two states — the same boolean the
      // Spark probe computes by running one genuine step off the
      // memoized round-N state. Each family's CTE chain is scoped
      // inside its own derived table, so the shared names (und, c0…)
      // never collide across families.
      "convergence_audit" -> convergenceAuditSql,
      // GraphX runs min-label to FULL convergence; the unrolled twin at
      // the ComponentsOracleRounds horizon converges earlier on this
      // graph (componentsFixedSizes early-exits on its monotone fixed
      // point), so the same exact integer size histogram binds both —
      // component membership has no float tier, unlike the rank family.
      // The horizon equivalence is data-dependent, so the Scala query
      // ASSERTS it (GraphAlgs.componentLabels(…).converged) — a graph
      // needing more rounds fails with the horizon named instead of an
      // unexplained hash mismatch.
      "graphx_components" -> componentsSql(GraphAlgs.ComponentsOracleRounds),
      // BFS distances toward the landmark along edge direction — a
      // recursive CTE twin of GraphX ShortestPaths (expand backwards over
      // dst→src from the landmark; UNION dedups states, and the graph is
      // a layered DAG (C→O→P→B) so recursion terminates; the dist guard
      // is belt-and-braces). min() collapses multi-path revisits.
      "graphx_shortest_paths" ->
        s"""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesSql)),
           |walk(id, dist) AS (
           |  SELECT 'P1' AS id, CAST(0 AS BIGINT) AS dist
           |  UNION
           |  SELECT e.src, w.dist + 1 FROM walk w
           |  JOIN e ON e.dst = w.id WHERE w.dist < 8
           |)
           |SELECT id, min(dist) AS dist FROM walk GROUP BY id
           |ORDER BY dist, id LIMIT 50""".stripMargin,
      // Harmonic centrality toward the landmark set: |S| BFS walks in
      // one recursive CTE (landmark rides the state), min-dist collapse,
      // then Σ 1/d with the list_sum(list_sort(…)) float-fold convention
      // mirroring the Spark side's sorted fold — bit-exact doubles.
      "harmonic_centrality" ->
        s"""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesSql)),
           |lms(lm) AS (SELECT * FROM (VALUES ${HarmonicLandmarks
              .map(l => s"('$l')").mkString(", ")}) t(lm)),
           |walk(lm, id, dist) AS (
           |  SELECT lm, lm AS id, CAST(0 AS BIGINT) AS dist FROM lms
           |  UNION
           |  SELECT w.lm, e.src, w.dist + 1 FROM walk w
           |  JOIN e ON e.dst = w.id WHERE w.dist < 8
           |),
           |d AS (SELECT lm, id, min(dist) AS dist FROM walk GROUP BY 1, 2)
           |SELECT id, list_sum(list_sort(
           |    list(CAST(1 AS DOUBLE) / CAST(dist AS DOUBLE)))) AS harmonic
           |FROM d WHERE dist > 0 GROUP BY id
           |ORDER BY harmonic DESC, id LIMIT 25""".stripMargin,
      // Static fallback assumes no c_join_date (the driver's TPC-H
      // testdata today); Verify overlays [[adaptiveOracles]], which
      // mirrors the Spark side's schema adaptivity against the actual
      // fixture, so a future testdata WITH the column stays green.
      "graph_node_props" -> nodePropsSql(hasJoinDate = false),
      "graph_contains_weights" ->
        """WITH cw AS (
          |  SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
          |  QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey
          |    ORDER BY l_linenumber DESC, l_quantity DESC) = 1)
          |SELECT 'P'||CAST(l_partkey AS VARCHAR) AS dst,
          |  sum(CAST(round(l_quantity * 100) AS BIGINT))
          |    / CAST(100 AS DOUBLE) AS total_qty,
          |  count(*) AS n_orders
          |FROM cw GROUP BY 1 ORDER BY total_qty DESC, dst LIMIT 20""".stripMargin,
      "graph_degrees_top" ->
        s"""WITH e AS (
           |$EdgesSql
           |), d AS (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
           |SELECT id, count(*) AS degree FROM d
           |GROUP BY id ORDER BY degree DESC, id ASC LIMIT 20""".stripMargin,
      // Digit-magnitude buckets: a log-ish degree histogram in pure
      // integer/string arithmetic — engine-identical where float log2
      // boundary values are not.
      "graph_degree_hist" ->
        s"""WITH e AS (
           |$EdgesSql
           |), d AS (SELECT src AS id FROM e UNION ALL SELECT dst FROM e),
           |deg AS (SELECT id, count(*) AS d FROM d GROUP BY id)
           |SELECT CAST(length(CAST(d AS VARCHAR)) AS INTEGER) AS magnitude,
           |  count(*) AS n_nodes, min(d) AS min_degree,
           |  max(d) AS max_degree, CAST(sum(d) AS BIGINT) AS total_degree
           |FROM deg GROUP BY 1 ORDER BY magnitude""".stripMargin,
      "allpairs_cooccurrence" ->
        s"""WITH items AS (SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id FROM lineitem),
           |sane AS (SELECT order_id FROM items GROUP BY order_id
           |         HAVING count(*) <= ${GraphAlgs.MaxBasketSize}),
           |bounded AS (SELECT i.* FROM items i JOIN sane USING (order_id))
           |SELECT a.product_id AS p1, b.product_id AS p2, count(*) AS n_orders
           |FROM bounded a JOIN bounded b ON a.order_id = b.order_id
           |WHERE a.product_id < b.product_id
           |GROUP BY 1, 2
           |ORDER BY n_orders DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin,
      // Item-item serving table: both-direction pair counts, rank
      // window per product (row_number is BIGINT in DuckDB → cast to
      // match Spark's int).
      "item_item_topk" ->
        s"""WITH items AS (SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id FROM lineitem),
           |sane AS (SELECT order_id FROM items GROUP BY order_id
           |         HAVING count(*) <= ${GraphAlgs.MaxBasketSize}),
           |bounded AS (SELECT i.* FROM items i JOIN sane USING (order_id)),
           |counts AS (SELECT a.product_id AS product_id,
           |    b.product_id AS rec_product_id,
           |    CAST(count(*) AS BIGINT) AS n_orders
           |  FROM bounded a JOIN bounded b ON a.order_id = b.order_id
           |   AND a.product_id <> b.product_id
           |  GROUP BY 1, 2),
           |ranked AS (SELECT *, CAST(row_number() OVER (
           |    PARTITION BY product_id
           |    ORDER BY n_orders DESC, rec_product_id) AS INTEGER)
           |    AS rec_rank
           |  FROM counts)
           |SELECT product_id, rec_product_id, n_orders, rec_rank
           |FROM ranked WHERE rec_rank <= 3
           |ORDER BY product_id, rec_rank""".stripMargin,
      // Triangle count is orientation-independent: the Spark side
      // orients edges by degree for skew-bounded wedges, the oracle
      // uses plain id order — each triangle counted exactly once in
      // both. pairs is read three times → MATERIALIZED.
      "graph_triangles" ->
        s"""WITH items AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
           |  FROM lineitem),
           |sane AS (SELECT order_id FROM items GROUP BY order_id
           |         HAVING count(*) <= ${GraphAlgs.MaxBasketSize}),
           |pairs AS MATERIALIZED (
           |  SELECT DISTINCT a.product_id AS p1, b.product_id AS p2
           |  FROM items a JOIN items b ON a.order_id = b.order_id
           |   AND a.product_id < b.product_id
           |  JOIN sane ON a.order_id = sane.order_id)
           |SELECT count(*) AS n_triangles
           |FROM pairs ab
           |JOIN pairs bc ON ab.p2 = bc.p1
           |JOIN pairs ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2""".stripMargin,
      // Per-vertex triangle credit is orientation-independent, so the
      // id-ordered triangle listing feeds the same counts the degree-
      // oriented Spark plan produces.
      "graph_clustering_top" ->
        s"""WITH items AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
           |  FROM lineitem),
           |sane AS (SELECT order_id FROM items GROUP BY order_id
           |         HAVING count(*) <= ${GraphAlgs.MaxBasketSize}),
           |pairs AS MATERIALIZED (
           |  SELECT DISTINCT a.product_id AS p1, b.product_id AS p2
           |  FROM items a JOIN items b ON a.order_id = b.order_id
           |   AND a.product_id < b.product_id
           |  JOIN sane ON a.order_id = sane.order_id),
           |tri AS MATERIALIZED (
           |  SELECT ab.p1 AS a, ab.p2 AS b, bc.p2 AS c
           |  FROM pairs ab
           |  JOIN pairs bc ON ab.p2 = bc.p1
           |  JOIN pairs ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2),
           |pv AS (SELECT p, count(*) AS n_tri FROM (
           |    SELECT a AS p FROM tri UNION ALL SELECT b FROM tri
           |    UNION ALL SELECT c FROM tri) GROUP BY 1),
           |deg AS (SELECT p, count(*) AS d FROM (
           |    SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs)
           |  GROUP BY 1)
           |SELECT deg.p, d, coalesce(n_tri, 0) AS n_tri,
           |  CAST(2 * coalesce(n_tri, 0) AS DOUBLE) / (d * (d - 1)) AS coef
           |FROM deg LEFT JOIN pv ON deg.p = pv.p
           |WHERE d >= 2
           |ORDER BY coef DESC, d DESC, deg.p ASC
           |LIMIT 20""".stripMargin,
      // Pair support comes from basket-BOUNDED orders (the documented
      // fan-out guard); item totals and N from the full edge set — the
      // same deliberate asymmetry as the Spark side. Float ops in the
      // same order as Spark (cast-then-multiply) for bit parity.
      "association_rules" ->
        s"""WITH items AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
           |  FROM lineitem),
           |sane AS (SELECT order_id FROM items GROUP BY order_id
           |         HAVING count(*) <= ${GraphAlgs.MaxBasketSize}),
           |bounded AS MATERIALIZED (
           |  SELECT i.* FROM items i JOIN sane USING (order_id)),
           |p12 AS MATERIALIZED (
           |  SELECT a.product_id AS p1, b.product_id AS p2, count(*) AS n12
           |  FROM bounded a JOIN bounded b ON a.order_id = b.order_id
           |   AND a.product_id < b.product_id
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |rules AS (SELECT p1 AS ante, p2 AS cons, n12 FROM p12
           |  UNION ALL SELECT p2, p1, n12 FROM p12),
           |it AS (SELECT product_id, count(*) AS n_item
           |       FROM items GROUP BY 1),
           |n AS (SELECT count(DISTINCT order_id) AS n_orders FROM items)
           |SELECT ante, cons, n12, a.n_item AS n_ante, c.n_item AS n_cons,
           |  CAST(n12 AS DOUBLE) / a.n_item AS confidence,
           |  CAST(n12 AS DOUBLE) * n_orders /
           |    (CAST(a.n_item AS DOUBLE) * c.n_item) AS lift
           |FROM rules
           |JOIN it a ON ante = a.product_id
           |JOIN it c ON cons = c.product_id, n
           |ORDER BY lift DESC, ante ASC, cons ASC
           |LIMIT 20""".stripMargin,
      "graph_kcore" -> kCoreSql(GraphAlgs.KCoreK, GraphAlgs.KCoreRounds),
      // Seeded common-neighbor Jaccard (seed product 1): wedges only
      // through the seed's neighbor set, candidates non-adjacent with
      // cn >= 1, Jaccard over TRUE degrees.
      "graph_link_prediction" ->
        s"""WITH items AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
           |  FROM lineitem),
           |sane AS (SELECT order_id FROM items GROUP BY order_id
           |         HAVING count(*) <= ${GraphAlgs.MaxBasketSize}),
           |pairs AS MATERIALIZED (
           |  SELECT DISTINCT a.product_id AS p1, b.product_id AS p2
           |  FROM items a JOIN items b ON a.order_id = b.order_id
           |   AND a.product_id < b.product_id
           |  JOIN sane ON a.order_id = sane.order_id),
           |und AS MATERIALIZED (
           |  SELECT p1 AS c, p2 AS n FROM pairs
           |  UNION ALL SELECT p2, p1 FROM pairs),
           |deg AS MATERIALIZED (SELECT c AS p, count(*) AS d FROM und
           |  GROUP BY 1),
           |nb AS MATERIALIZED (SELECT n FROM und WHERE c = 1),
           |cn AS (SELECT u.n AS b, count(*) AS cn
           |  FROM und u JOIN nb ON u.c = nb.n
           |  WHERE u.n <> 1 GROUP BY 1),
           |cand AS (SELECT b, cn FROM cn
           |  WHERE b NOT IN (SELECT n FROM nb))
           |SELECT b AS product_id, CAST(cn AS BIGINT) AS cn,
           |  CAST(cn AS DOUBLE) / (ds.d + db.d - cn) AS jaccard
           |FROM cand JOIN deg db ON cand.b = db.p,
           |  (SELECT d FROM deg WHERE p = 1) ds
           |ORDER BY jaccard DESC, cn DESC, product_id ASC
           |LIMIT 10""".stripMargin,
      "weighted_pagerank_top" -> weightedPageRankSql(5, 20),
      "hits_fixed_top" -> hitsSql(5, 10),
      "graph_lpa_communities" -> lpaSql(GraphAlgs.LpaRounds, 20),
      // Endpoint-degree Pearson over the symmetrized edge set; decimal
      // sufficient statistics, doubles only at the last three casts.
      "graph_assortativity" ->
        s"""WITH e0 AS MATERIALIZED (SELECT src, dst FROM ($EdgesSql)),
           |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
           |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
           |deg AS (SELECT src, count(*) AS d FROM und GROUP BY src),
           |p AS (SELECT a.d AS dx, b.d AS dy
           |  FROM und JOIN deg a ON und.src = a.src
           |           JOIN deg b ON und.dst = b.src),
           |s AS (SELECT count(*) AS m,
           |  CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
           |  CAST(sum(CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
           |  CAST(sum(CAST(dx * dy AS DECIMAL(38,0))) AS DECIMAL(38,0))
           |    AS sxy,
           |  CAST(sum(CAST(dx * dx AS DECIMAL(38,0))) AS DECIMAL(38,0))
           |    AS sxx,
           |  CAST(sum(CAST(dy * dy AS DECIMAL(38,0))) AS DECIMAL(38,0))
           |    AS syy
           |FROM p)
           |SELECT m AS m_pairs,
           |  CAST(m * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
           |     sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS assortativity
           |FROM s""".stripMargin
    )
  )
}
