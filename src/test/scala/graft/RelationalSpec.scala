package graft

import graft.operators.{Funnel, Relational}
import graft.text.TextAnalysis

class RelationalSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("approx distinct is within 5% of exact (HLL default accuracy)") {
    val r = Relational.approxDistinct(spark, dir).head()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(exact > 0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("loadSafe substitutes an empty typed relation for a missing source (S2)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val df = Tables.loadSafe(spark, "/nonexistent-dir", "ghost", schema)
    assert(df.schema == schema && df.isEmpty)
    // present source loads normally through the same wrapper
    val ok = Tables.loadSafe(spark, dir, "region",
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))))
    assert(ok.count() == 5)
  }

  test("spread widens an unsplittable frame and is a no-op above the floor") {
    val target = spark.sparkContext.defaultParallelism
    val narrow = spark.range(1000).toDF("x").coalesce(1)
    val widened = Tables.spread(spark, narrow)
    assert(widened.rdd.getNumPartitions == target)
    assert(widened.agg(org.apache.spark.sql.functions.sum("x")).head.getLong(0)
      == 499500L) // values survive the round robin
    val wide = spark.range(1000).toDF("x").repartition(target + 5)
    // already-parallel input: same instance back, no shuffle added
    assert(Tables.spread(spark, wide) eq wide)
  }

  test("outer join keeps empty dimension rows with zero counts") {
    val rows = Relational.nationCustomerCounts(spark, dir).collect()
    assert(rows.length == 25) // every nation survives the outer join
    assert(rows.map(_.getLong(2)).sum == 150) // all customers accounted for
  }

  test("rollup emits per-pair, per-flag, and grand-total levels") {
    val rows = Relational.rollupPricing(spark, dir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val perFlag = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    assert(grand.head.getLong(2) == 6000)
    assert(perFlag.map(_.getLong(2)).sum == 6000)
  }

  test("cube adds the per-status margin rollup lacks; totals agree") {
    val rows = Relational.cubePricing(spark, dir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val perStatus = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1))
    assert(grand.length == 1 && grand.head.getLong(2) == 6000)
    assert(perStatus.nonEmpty) // the grouping set ROLLUP cannot produce
    assert(perStatus.map(_.getLong(2)).sum == 6000)
  }

  test("lower median picks the exact middle element for odd and even groups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // odd group {1,2,9} → 2; even group {1,2,3,4} → lower middle 2
    val df = Seq(("a", 9.0, 1L), ("a", 1.0, 2L), ("a", 2.0, 3L),
      ("b", 3.0, 4L), ("b", 1.0, 5L), ("b", 4.0, 6L), ("b", 2.0, 7L))
      .toDF("k", "v", "id")
    val out = Relational.lowerMedianBy(df, col("k"), col("v"), col("id"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("a" -> 2.0, "b" -> 2.0))
  }

  test("percentile picks land on exact ⌈p·n⌉ order statistics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 10 values 1..10 → ranks 1/5/9; group of 1 → all three are it
    val df = ((1 to 10).map(i => ("a", i.toDouble, i.toLong)) :+
      (("b", 7.0, 99L))).toDF("k", "v", "id")
    val out = Relational.percentilesBy(df, col("k"), col("v"), col("id"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("a") === ((1.0, 5.0, 9.0)))
    assert(out("b") === ((7.0, 7.0, 7.0)))
  }

  test("global exact quantiles equal the collected order statistics") {
    val rows = Relational.quantilesGlobalExact(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val vals = graft.Tables.load(spark, dir, "orders")
      .select("o_totalprice").collect().map(_.getDouble(0)).sorted
    val n = vals.length
    def pick(p: Int): Double = vals((n * p + 99) / 100 - 1)
    assert(rows === Map(50 -> pick(50), 90 -> pick(90), 99 -> pick(99)))
  }

  test("pivot matrix cells sum to the event count; absent combos are 0") {
    val rows = Relational.pivotEventMatrix(spark, dir).collect()
    val total = rows.map(r =>
      (1 to Relational.EventTypes.length).map(r.getLong).sum).sum
    assert(total == graft.Tables.load(spark, dir, "events").count())
    assert(rows.forall(r =>
      (1 to Relational.EventTypes.length).forall(i => r.getLong(i) >= 0)))
  }

  test("funnel counts only steps strictly after the previous step's first") {
    import spark.implicits._
    // u1: full ordered funnel. u2: cart and purchase both BEFORE the
    // first view → viewed only. u3: cart before view, re-cart after →
    // counted, but no purchase. u4: never viewed → excluded everywhere.
    val ev = Seq(
      ("u1", "view", 10L), ("u1", "add_to_cart", 20L), ("u1", "purchase", 30L),
      ("u2", "purchase", 5L), ("u2", "add_to_cart", 8L), ("u2", "view", 10L),
      ("u3", "add_to_cart", 5L), ("u3", "view", 10L), ("u3", "add_to_cart", 15L),
      ("u4", "purchase", 10L)
    ).toDF("user_id", "et", "ts_us")
    val r = Funnel.conversionCountsOf(ev).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 2L, 1L)))
  }

  test("cohort retention counts distinct users per (cohort, offset)") {
    import spark.implicits._
    val w = graft.operators.Cohorts.WeekUs
    // u1 first in week 0, active weeks 0 (twice — dedup), 1.
    // u2 first in week 1, active weeks 1, 9 (beyond the 8-week horizon).
    val ev = Seq(
      ("u1", 10L), ("u1", 20L), ("u1", w + 5L),
      ("u2", w + 1L), ("u2", 9 * w + 1L)
    ).toDF("user_id", "ts_us")
    val out = graft.operators.Cohorts.retentionMatrixOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (1L, 0L) -> 1L))
  }

  test("dau: cumulative users is the running sum of first-day users") {
    import spark.implicits._
    val d = graft.operators.Cohorts.DayUs
    // u1 days {0,1}, u2 day {1} (two events dedup), u3 day {2}
    val ev = Seq(("u1", 5L), ("u1", d + 1), ("u2", d + 2), ("u2", d + 3),
      ("u3", 2 * d + 1)).toDF("user_id", "ts_us")
    val rows = graft.operators.Cohorts.dauCumulativeOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq((0L, 1L, 1L, 1L), (1L, 2L, 1L, 2L),
      (2L, 1L, 1L, 3L)))
  }

  test("gap histogram buckets per-user lags; cross-user boundaries excluded") {
    import spark.implicits._
    val m = graft.operators.EventGaps.BucketUs // one minute
    // u1: gaps 30s (bucket 0) and 90m (capped to 60). u2: one event, no gap.
    val ev = Seq(
      ("u1", 0L, 1L), ("u1", 30L * 1000000L, 2L),
      ("u1", 30L * 1000000L + 90 * m, 3L), ("u2", 5L, 4L)
    ).toDF("user_id", "ts_us", "event_id")
    val out = graft.operators.EventGaps.gapHistogramOf(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 1L, 60L -> 1L))
  }

  test("time-to-convert buckets first-view→first-later-purchase hours") {
    import spark.implicits._
    val h = graft.operators.Funnel.HourUs
    // u1 converts 30 min after first view (bucket 0); a later purchase
    // is ignored (min delta). u2's purchase precedes its view → never.
    val ev = Seq(
      ("u1", "view", 0L), ("u1", "purchase", h / 2), ("u1", "purchase", 3 * h),
      ("u2", "purchase", 10L), ("u2", "view", 20L)
    ).toDF("user_id", "et", "ts_us")
    val out = graft.operators.Funnel.timeToConvertOf(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 1L))
  }

  test("audience overlap: intersection bounded by set sizes, jaccard in (0,1]") {
    val rows = graft.operators.Cohorts.audienceOverlap(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, n1, n2, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(nb >= 1 && nb <= math.min(n1, n2))
      assert(j > 0.0 && j <= 1.0)
      assert(j == nb.toDouble / (n1 + n2 - nb))
    }
  }

  test("hourly anomalies match a brute-force 3-sigma test exactly") {
    import org.apache.spark.sql.functions._
    val c = graft.Tables.load(spark, dir, "events")
      .select(lower(col("event_type")).as("et"),
        expr(s"unix_micros(ts) div ${3600L * 1000000L}").as("hr"))
      .groupBy("et", "hr").agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val flagged = graft.operators.Cohorts.hourlyCountAnomalies(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    c.groupBy(_._1).foreach { case (et, g) =>
      val n = g.length.toLong
      val s = g.map(_._3).sum
      val q = g.map(t => t._3 * t._3).sum
      g.foreach { case (_, hr, x) =>
        val brute = (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
        assert(flagged.contains((et, hr)) == brute, s"$et $hr")
      }
    }
    assert(flagged.nonEmpty)
  }

  test("scd2 intervals chain per key: each valid_to is the next valid_from") {
    val rows = graft.operators.EventGaps.scd2Intervals(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(4), r.getLong(2), // (valid_from, event_id) = window order
          if (r.isNullAt(5)) None else Some(r.getLong(5)))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val iv = g.map(_._2).sortBy(t => (t._1, t._2))
      iv.zip(iv.tail).foreach { case ((_, _, to), (from2, _, _)) =>
        assert(to.contains(from2)) // closed chain
      }
      assert(iv.last._3.isEmpty) // exactly the last interval is open
      assert(iv.init.forall(_._3.nonEmpty))
    }
  }

  test("profiling: one row per column, distincts bounded by non-null rows") {
    val rows = graft.operators.Relational.profileOrders(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      graft.Tables.load(spark, dir, "orders").columns.sorted.toSeq)
    val nRows = rows.head.getLong(1)
    rows.foreach { r =>
      assert(r.getLong(1) == nRows)
      assert(r.getLong(3) <= nRows - r.getLong(2))
    }
  }

  test("incremental partial merge equals the direct aggregate") {
    val inc = graft.operators.Relational.incrementalAggMerge(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val direct = graft.Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc.nonEmpty)
    inc.foreach { case (et, n, _) => assert(direct(et) == n) }
  }

  test("top terms: scores are tf-monotone within a doc, k per doc, ranked") {
    val rows = TextAnalysis.topTerms(spark, dir, k = 3).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 3))
    byDoc.values.foreach { docRows =>
      val scores = docRows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("RFM features: balanced quintiles, exact recency for a hand-checked customer") {
    import org.apache.spark.sql.functions._
    val rows = operators.Cohorts.rfmFeatures(spark, dir).collect()
    val n = rows.length
    assert(n == Tables.load(spark, dir, "orders")
      .select("o_custkey").distinct().count())
    // Quintiles are balanced within 1 and span 1..5.
    for (i <- Seq(4, 5, 6)) {
      val sizes = rows.groupBy(_.getInt(i)).map(_._2.length)
      assert(rows.map(_.getInt(i)).forall(s => s >= 1 && s <= 5))
      assert(sizes.max - sizes.min <= 1, s"col $i skewed: $sizes")
    }
    // Hand-check recency for one customer against a direct aggregate.
    val c = rows.head.getLong(0)
    val expect = Tables.load(spark, dir, "orders")
      .agg(max(to_date(col("o_orderdate"))).as("a")).crossJoin(
        Tables.load(spark, dir, "orders")
          .filter(col("o_custkey") === c)
          .agg(max(to_date(col("o_orderdate"))).as("l")))
      .select(datediff(col("a"), col("l"))).head().getInt(0)
    assert(rows.head.getInt(1) == expect)
  }

  test("event transitions: per-user sequences, per-source probabilities sum to 1") {
    import spark.implicits._
    // u1: a→b→a→c (transitions a→b, b→a, a→c); u2: b→b (b→b). The lead
    // window must NOT cross users: u1's last c and u2's first b pair
    // with nothing.
    val ev = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "b", 20L), (1L, 3L, "a", 30L),
      (1L, 4L, "c", 40L), (2L, 5L, "b", 50L), (2L, 6L, "b", 60L))
      .toDF("user_id", "event_id", "et", "ts_us")
    val m = operators.Transitions.eventTransitionsOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(m.keySet == Set(("a", "b"), ("a", "c"), ("b", "a"), ("b", "b")))
    assert(m(("a", "b")) == (1L, 0.5) && m(("a", "c")) == (1L, 0.5))
    assert(m(("b", "a")) == (1L, 0.5) && m(("b", "b")) == (1L, 0.5))
    // Same-timestamp events order by event_id (deterministic sequence).
    val tie = Seq((1L, 2L, "y", 10L), (1L, 1L, "x", 10L))
      .toDF("user_id", "event_id", "et", "ts_us")
    val t = operators.Transitions.eventTransitionsOf(tie).collect()
    assert(t.length == 1 && t.head.getString(0) == "x" &&
      t.head.getString(1) == "y")
    // On the real fixture: probabilities per source sum to 1.
    val srcSums = operators.Transitions.eventTransitions(spark, dir)
      .groupBy("src_type")
      .agg(org.apache.spark.sql.functions.sum("p_transition").as("p"))
      .collect()
    assert(srcSums.nonEmpty &&
      srcSums.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }

  test("FK integrity: clean fixture audits clean, row counts match tables") {
    val rows = operators.Relational.fkIntegrityReport(spark, dir).collect()
    assert(rows.length == 6)
    // The generator produces referentially-intact tables.
    assert(rows.forall(_.getLong(2) == 0L),
      rows.map(r => s"${r.getString(0)}=${r.getLong(2)}").mkString(", "))
    // n_rows is the child cardinality, per relation.
    val byFk = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFk("orders.o_custkey->customer") ==
      Tables.load(spark, dir, "orders").count())
    assert(byFk("lineitem.l_orderkey->orders") ==
      Tables.load(spark, dir, "lineitem").count())
  }

  test("event type drift: halves partition the stream, share diffs exact") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Cohorts.eventTypeDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val ev = Tables.load(spark, dir, "events")
      .select(lower(col("event_type")).as("et"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (lo, hi) = (ev.map(_._2).min, ev.map(_._2).max)
    val ne = rows.map(_._2).sum
    val nl = rows.map(_._3).sum
    assert(ne + nl == ev.length)
    rows.foreach { case (et, e, l, d) =>
      val mine = ev.filter(_._1 == et)
      assert(e == mine.count(_._2 * 2 < lo + hi))
      assert(l == mine.length - e)
      assert(d == math.abs(e.toDouble / ne - l.toDouble / nl))
    }
  }

  test("concurrent sketch audits run under disjoint job groups") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val caller = "graft.test.caller"
    // (caller, job group) of every job a tagged thread (or a pool thread
    // it spawned, which inherits its local properties) starts.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(caller)))
          .foreach { c =>
            seen.add(c -> String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
            ()
          }
    }
    sc.addSparkListener(listener)
    try {
      val results = new java.util.concurrent.ConcurrentHashMap[String, Seq[Boolean]]()
      val threads = Seq("a", "b").map { c =>
        new Thread(() => {
          sc.setLocalProperty(caller, c)
          results.put(c, Relational.sketchAudit(spark, dir).collect()
            .map(_.getBoolean(1)).toSeq)
          ()
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(results.asScala == Map("a" -> Seq(true, true, true),
        "b" -> Seq(true, true, true)))
      // The listener bus is FIFO: once a marker job's start is seen,
      // every earlier job start has been delivered.
      sc.setLocalProperty(caller, "marker")
      try spark.range(1).count() finally sc.setLocalProperty(caller, null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.asScala.exists(_._1 == "marker") &&
             System.currentTimeMillis() < deadline) Thread.sleep(10)
      def groups(c: String) = seen.asScala.collect {
        case (`c`, g) if g.startsWith("sketch-audit") => g
      }.toSet
      assert(groups("a").nonEmpty && groups("b").nonEmpty)
      assert(groups("a").intersect(groups("b")).isEmpty,
        s"shared job groups: ${groups("a")} vs ${groups("b")}")
    } finally sc.removeSparkListener(listener)
  }
}
