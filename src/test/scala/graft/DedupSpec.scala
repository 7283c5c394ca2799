package graft

import java.nio.file.Files
import graft.dedup.Dedup

/** Dedup tiers on a hand-built corpus with known exact/near/shuffled
  * duplicates. */
object DedupFixture {
  case class Doc(doc_id: Long, text: String, source: String)

  // 12 tokens; doc2 = exact dup of doc1; doc3 = doc1 shuffled
  // (token-set dup); doc4 = doc1 with the last token replaced
  // (3-gram jaccard = 9/11 ≈ 0.818); doc5 unrelated.
  val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  val docs: Seq[Doc] = Seq(
    Doc(1, base, "web"),
    Doc(2, base, "mirror"),
    Doc(3, base.split(" ").reverse.mkString(" "), "web"),
    Doc(4, base.split(" ").init.mkString(" ") + " nu", "books"),
    Doc(5, "completely different words entirely unrelated content here now",
      "books"))

  lazy val dir: String = {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = Files.createTempDirectory("graft-docs").toString
    docs.toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    d
  }
}

class DedupSpec extends SparkTestBase {
  private def dir = DedupFixture.dir

  test("exact dedup groups the byte-identical pair, keeps min doc_id") {
    val rows = Dedup.exact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("token-set dedup also captures the shuffled doc") {
    val rows = Dedup.tokenSetDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 3L))) // docs 1,2,3 share the token set
  }

  test("n-gram jaccard finds exact and near pairs with exact scores") {
    val pairs = Dedup.ngramJaccardPairs(spark, dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 1.0)
    assert(math.abs(byPair((1L, 4L)) - 9.0 / 11.0) < 1e-12)
  }

  test("MinHash LSH candidates verify to a subset of the exact pairs") {
    val lsh = Dedup.minhashLshPairs(spark, dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Set((1L, 2L), (1L, 4L), (2L, 4L))
    assert(lsh.subsetOf(exactPairs))
    assert(lsh.contains((1L, 2L))) // identical docs always collide
  }

  test("rolling-hash fingerprints: identical docs collide, distinct docs do not") {
    val fps = graft.text.TextAnalysis.rollingHashes(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fps(1L) == fps(2L))          // byte-identical docs
    assert(fps(1L) != fps(5L))          // unrelated doc
    assert(fps(1L)._1 != fps(4L)._1)    // suffix edit changes the full hash
  }

  test("SimHash: identical docs at distance 0; pairs blocked by chunks find them") {
    val hashes = Dedup.simhashes(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    val pairs = Dedup.simhashPairs(spark, dir, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    // unrelated doc never pairs with the duplicate cluster
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("md5 SimHash variant (oracle rows) agrees on dup structure") {
    val hashes = Dedup.simhashesMd5(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    val pairs = Dedup.simhashPairsMd5(spark, dir, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("near-contamination flags benchmark near-copies, one side only") {
    import spark.implicits._
    // The real corpus has no benchmark near-dups (its max cross-Jaccard
    // is ~0.03), so the registry row is honestly empty; prove the
    // operator non-vacuously on a fixture where it must fire.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = java.nio.file.Files.createTempDirectory("graft-nearcont").toString
    Seq(
      (0L, base),                          // benchmark doc
      (10L, base + " phi"),                // benchmark near-copy of 0
      (100L, base.replace("gamma", "hacked")), // train near-copy of 0
      (101L, base.replace("gamma", "hacked")), // its exact twin (train-train)
      (200L, "totally unrelated words about completely different topics " +
        "that share no trigram with anything else at all here"))
      .toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    val rows = Dedup.nearContamination(spark, d, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // Train docs 100/101 each pair with benchmark docs 0 and 10; the
    // bench-bench pair (0,10) and the train-train pair (100,101) are
    // excluded by the exactly-one-side rule; 200 pairs with nothing.
    assert(rows.map(r => (r._1, r._2)).toSet ==
      Set((100L, 0L), (100L, 10L), (101L, 0L), (101L, 10L)),
      rows.mkString(", "))
    assert(rows.forall(_._3 >= 0.5))
    // And on the real corpus the gate is clean — verified empty, which
    // is the release-gate answer, not a missing result.
    assert(Dedup.nearContamination(spark, dir).isEmpty)
  }

  test("incremental gate: exact beats near beats unique on a fixture") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "totally unrelated words about completely different " +
      "topics that share no trigram with anything else at all here"
    // cut = (max_id*4) div 5 = (100*4) div 5 = 80: docs >80 are the batch
    val d = java.nio.file.Files.createTempDirectory("graft-incr").toString
    Seq(
      (0L, base),                           // corpus
      (1L, other),                          // corpus
      (90L, base),                          // batch: exact copy of 0
      (95L, base + " phi"),                 // batch: near-copy of 0
      (96L, base.replace("alpha", "hacked") + " omega zz"), // near of 0
      (100L, "fresh new content entirely its own with many novel " +
        "tokens never seen before in any earlier document"))
      .toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    val got = Dedup.incrementalDedup(spark, d, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(90L -> "exact_dup", 95L -> "near_dup",
      96L -> "near_dup", 100L -> "unique"), got.toString)
    // real corpus: batch rows are exactly the top fifth, verdicts total
    val real = Dedup.incrementalDedup(spark, dir).collect()
    val maxId = Tables.load(spark, dir, "documents")
      .agg(org.apache.spark.sql.functions.max("doc_id")).head.getLong(0)
    val cut = maxId * 4 / 5
    assert(real.forall(_.getLong(0) > cut))
    assert(real.map(_.getString(1)).forall(
      Set("exact_dup", "near_dup", "unique")))
  }

  test("containment fires on a wrapped copy that Jaccard misses") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val wrapper = ("intro words preamble header " + core +
      " footer outro trailing boilerplate closing lines stuff " +
      "padding padding2 padding3 padding4 padding5 padding6 padding7 " +
      "padding8 padding9 padding10 padding11 padding12 padding13")
    val d = java.nio.file.Files.createTempDirectory("graft-cont").toString
    Seq((1L, core), (2L, wrapper),
      (3L, "totally different content nothing shared with the others " +
        "at all in any window here"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val rows = Dedup.containmentPairs(spark, d, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)),
      rows.mkString(", "))
    assert(rows.head._3 >= 0.9 && rows.head._4 < 0.8)
    // the symmetric Jaccard pass indeed does NOT flag the pair
    val jacc = Dedup.ngramJaccardPairs(spark, d).collect()
    assert(!jacc.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // real corpus: verified empty is the answer (no wrapped copies)
    assert(Dedup.containmentPairs(spark, dir).isEmpty)
  }

  test("quality keepers: argmax quality per cluster, overturns tracked") {
    import org.apache.spark.sql.functions.col
    val clusters = graph.GraphAlgs.pairComponents(
      Dedup.minhashLshPairs(spark, dir).select("d1", "d2"), 5).state
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val q6 = pipeline.Curation.qualityMicro(spark, dir)
      .select("doc_id", "q6").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = clusters.groupBy(_._2).filter(_._2.length > 1)
      .map { case (comp, ms) =>
        val best = ms.map(_._1).minBy(id => (-q6(id), id))
        comp -> best
      }
    val got = Dedup.qualityKeepers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    assert(got.map(t => t._1 -> t._2).toMap == want)
    got.foreach { case (comp, keeper, overturned) =>
      assert(overturned == (comp != keeper))
      assert(q6(keeper) >= q6(comp)) // never keeps a worse copy
    }
  }

  test("cross-source matrix partitions the verified pair set") {
    val total = Dedup.minhashLshPairs(spark, dir).count()
    val rows = Dedup.crossSourceMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._3).sum === total) // every pair lands in one cell
    rows.foreach { case (a, b, n) =>
      assert(a <= b && n >= 1) // unordered keys, no empty cells
    }
  }

  test("minhash clusters reconcile with the verified pair set") {
    val pairs = Dedup.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val comp = graft.graph.GraphAlgs
      .pairComponents(Dedup.minhashLshPairs(spark, dir)
        .select("d1", "d2"), rounds = 5).state
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Directly-paired docs always share a component (one hop ≤ rounds),
    // and every label is the min of the docs it covers.
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b), s"($a,$b)") }
    comp.groupBy(_._2).foreach { case (label, m) =>
      assert(label == m.keys.min)
    }
    // The cluster rows are exactly the multi-member labels, keyed by min.
    val clusters = Dedup.minhashClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = comp.groupBy(_._2).view.mapValues(_.size.toLong)
      .filter(_._2 > 1).toMap
    assert(clusters == expect)
  }

  test("normalized dedup merges casing/punct/whitespace variants only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello,  world!"), (2L, "hello world"), (3L, "HELLO WORLD"),
      (4L, "a distinct text"), (5L, "a distinct text"), // exact dups
      (6L, "another one")
    ).toDF("doc_id", "text")
    val r = Dedup.normalizedDedupReportOf(docs).collect().head
    assert(r.getLong(0) == 6)
    // exact already lowercases: {1},{2,3},{4,5},{6} → 4; the
    // normalization pass additionally strips punctuation and collapses
    // whitespace, merging 1 into {1,2,3} → 3
    assert(r.getLong(1) == 4 && r.getLong(2) == 3 && r.getLong(3) == 1)
    // the fixture report reconciles: n_merged = n_exact - n_normalized
    val f = Dedup.normalizedDedupReport(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(f.getLong(3) == f.getLong(1) - f.getLong(2) && f.getLong(3) >= 0)
  }

  test("threshold sweep: brute-replay parity, one action, no loop") {
    val dir = "/root/testdata/sf0.001"
    val ts = Dedup.SweepThresholds.sorted
    // brute replay: conditional counts over the collected pair relation
    val pairs = Dedup.minhashLshPairs(spark, dir, ts.min).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = ts.map { t =>
      val at = pairs.filter(_._3 >= t)
      (t, at.length.toLong,
        at.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    }
    val sweep = Dedup.thresholdSweep(spark, dir)
    // ONE action: the r7 implementation looped 2 driver actions per
    // threshold over the unpersisted pair relation (6 full
    // re-executions). Each DataFrame action opens exactly one SQL
    // execution (AQE sub-jobs all nest under it), so counting
    // SQLExecutionStart events during the collect pins the no-loop
    // claim directly.
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val g = sweep.collect()
          .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
        Thread.sleep(500) // let queued listener events drain
        g
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(got.toSeq == expect && got.exists(_._2 > 0L))
    assert(execs.get() <= 1,
      s"sweep ran ${execs.get()} SQL executions — action loop?")
  }
  test("huge-doc row-based verify path is bit-identical to the array path") {
    // Default cap (1<<16): every fixture doc is far below it - pure
    // array path. Cap forced to 4: every participant doc (10 shingles)
    // is "huge" - the whole pair set runs the streamed row-based
    // fallback. The two paths must agree bit-for-bit (same |A cap B|,
    // |A|, |B|, same IEEE-754 division), proving the adversarial-input
    // fallback is semantics-free.
    def pairs() = Dedup.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
    val arrayPath = pairs()
    sys.props("spark.graft.dedup.verify.arrayCap") = "4"
    val rowPath =
      try pairs()
      finally { sys.props.remove("spark.graft.dedup.verify.arrayCap"); () }
    assert(arrayPath.nonEmpty && arrayPath == rowPath)
  }
}
