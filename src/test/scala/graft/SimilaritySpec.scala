package graft

import graft.similarity.Similarity

/** Similarity search on the real sf0.001 embeddings (64-dim ~unit
  * vectors). */
class SimilaritySpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("norms: embeddings are approximately unit-length") {
    val l2 = Similarity.norms(spark, dir).collect().map(_.getDouble(2))
    assert(l2.forall(v => v > 0.9 && v < 1.1))
  }

  test("int8 quantization: scale, rounding rule, and error are exact on a hand case") {
    import spark.implicits._
    // scale = 127/1; q = floor(x*127 + 0.5): 1.0→127 (err 0),
    // -0.5→-63 (err -0.5/127), 0.25→32 (err -0.25/127).
    val df = Seq((1L, Array(1.0f, -0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8Of(df).collect()(0)
    assert(r.getDouble(1) === 1.0)
    val e1 = 0.5 / 127
    val e2 = 0.25 / 127
    assert(math.abs(r.getDouble(3) - e1) < 1e-15) // max_err
    assert(math.abs(r.getDouble(2) - (e1 * e1 + e2 * e2) / 3) < 1e-15) // mse
  }

  test("brute-force cosine top-k is sorted, bounded, and excludes the seed") {
    val rows = Similarity.cosineTopK(spark, dir, 0L, k = 20).collect()
    assert(rows.length == 20)
    val cos = rows.map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    assert(!rows.map(_.getLong(0)).contains(0L))
  }

  test("IVF ANN achieves usable recall against the exact baseline") {
    val exact = Similarity.cosineTopK(spark, dir, 0L, k = 20).collect()
      .map(_.getLong(0)).toSet
    val ann = Similarity.ivfTopK(spark, dir, 0L, k = 20, nClusters = 16,
      nProbe = 8).collect().map(_.getLong(0)).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("IVF auto-sizes to ~sqrt(N) cells and keeps recall at the same probe fraction") {
    // 500 vectors → 23 cells; probe half of them, like the 8/16 test above.
    val exact = Similarity.cosineTopK(spark, dir, 0L, k = 20).collect()
      .map(_.getLong(0)).toSet
    val ann = Similarity.ivfTopK(spark, dir, 0L, k = 20, nClusters = 0,
      nProbe = 12).collect().map(_.getLong(0)).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("IVF append: new vectors land in model-assigned cells, base rows intact") {
    import org.apache.spark.sql.functions.col
    // Distinct cell count → own index dir, so appends never pollute the
    // shared default index other tests and the registry row read.
    val k = 7
    Similarity.ivfTopK(spark, dir, 0L, k = 5, nClusters = k, nProbe = k)
      .collect() // force the index build
    val newVecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        col("label"))
      .limit(50)
    val grown = Similarity.ivfAppend(spark, dir, newVecs, nClusters = k)
    val appended = grown.filter(col("vec_id") >= 100000L)
    // All 50 arrived (repeat-run tolerant: distinct ids), the 500 base
    // rows are untouched, and every appended row sits in a valid cell.
    assert(appended.select("vec_id").distinct().count() == 50)
    assert(grown.count() - appended.count() == 500)
    assert(appended.select("cluster").distinct().collect()
      .forall(r => r.getInt(0) >= 0 && r.getInt(0) < k))
    // Appends are PROBE-visible: the memoized index handle was swapped
    // for a post-append reader, so a subsequent ivfTopK (all cells
    // probed) can rank an appended vector — vec_id 100000 is the base
    // seed's exact duplicate, so it must appear in its top-k.
    val topkAfter = Similarity.ivfTopK(spark, dir, 0L, k = 5,
      nClusters = k, nProbe = k).collect().map(_.getLong(0))
    assert(topkAfter.contains(100000L), topkAfter.mkString(", "))
  }

  test("IVF probes prune at file-listing time: cluster is a partition key") {
    val df = Similarity.ivfTopK(spark, dir, 0L, k = 20, nClusters = 16,
      nProbe = 4)
    df.collect() // populate scan metrics
    // AQE wraps stages; plain collect() stops at stage boundaries.
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(df.queryExecution.executedPlan)
    // The index scan carries the probe set as a PartitionFilter …
    val pruned = scans.filter(_.partitionFilters.nonEmpty)
    assert(pruned.nonEmpty, "no partition-filtered scan in the IVF plan:\n" +
      df.queryExecution.executedPlan.toString)
    // … and actually read only the probed cells, not the corpus: at
    // 10⁹ vectors this is the difference between scanning nprobe·√N rows
    // and scanning everything.
    val partsRead = pruned.head.metrics("numPartitions").value
    assert(partsRead == 4, s"expected 4 probed cells, read $partsRead")
  }

  test("label centroids: fold tree matches the exact mean and a hand fold") {
    // Semantic check: tree-fold mean ≈ exact mean (fp error only).
    val rows = Similarity.labelCentroids(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val byLabel = emb.groupBy(_._2)
    for ((label, vs) <- byLabel; dim <- vs.head._3.indices) {
      val exact = vs.map(_._3(dim)).sum / vs.length
      assert(math.abs(rows((label, dim)) - exact) < 1e-9,
        s"label $label dim $dim")
    }
    // Bit check: reproduce the (5,10)-bit fold tree by hand for one
    // (label, dim) cell — the oracle-parity contract, not just ≈.
    val (label0, vs0) = byLabel.head
    def fold(xs: Seq[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)
    val l0 = vs0.groupBy(_._1 >> 5).toSeq.map { case (ch, g) =>
      (ch, fold(g.map(_._3(0))), g.length) }
    val l1 = l0.groupBy(_._1 >> 5).toSeq.map { case (_, g) =>
      (fold(g.map(_._2)), g.map(_._3).sum) }
    val expected = fold(l1.map(_._1)) / l1.map(_._2).sum
    assert(rows((label0, 0)) == expected)
    // The tree is actually exercised: >1 leaf chunk at this scale.
    assert(l0.length > 1)
  }

  test("centroid outliers: brute parity on counts and the worst cosine") {
    val cents = Similarity.labelCentroids(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).foldLeft(0.0)(_ + _)
      val na = a.map(x => x * x).foldLeft(0.0)(_ + _)
      val nb = b.map(x => x * x).foldLeft(0.0)(_ + _)
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = emb.groupBy(_._1).map { case (label, vs) =>
      val c = vs.head._2.indices.map(d => cents((label, d))).toArray
      val coss = vs.map(v => cos(v._2, c))
      label -> (vs.length.toLong, coss.count(_ < 0.5).toLong, coss.min)
    }
    val got = Similarity.centroidOutliers(spark, dir).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === brute.keySet)
    for ((label, (n, out, mn)) <- brute) {
      assert(got(label)._1 === n)
      assert(got(label)._2 === out, s"label $label outlier count")
      assert(math.abs(got(label)._3 - mn) < 1e-9)
    }
  }

  test("centroid shift: matches the brute half-split L2 within fp error") {
    val rows = Similarity.centroidShift(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    assert(rows.nonEmpty)
    for ((label, vs) <- emb.groupBy(_._2)) {
      val (ev, od) = vs.partition(_._1 % 2 == 0)
      val dims = vs.head._3.indices
      val d2 = dims.map { d =>
        val ma = ev.map(_._3(d)).sum / ev.length
        val mb = od.map(_._3(d)).sum / od.length
        (ma - mb) * (ma - mb)
      }.sum
      assert(math.abs(rows(label) - math.sqrt(d2)) < 1e-9, s"label $label")
      assert(rows(label) > 0.0)
    }
  }

  test("PQ codebooks beat the one-code baseline and use their code budget") {
    val rows = Similarity.pqReport(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0 until 8))
    assert(rows.forall(_._2 == 500L))
    // Baseline: quantizing each 8-dim subspace to its single mean
    // vector has MSE = the subspace's per-element variance. A 16-code
    // codebook must do strictly better on every subspace — if it
    // doesn't, the fit or the encode is wrong.
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for ((sub, _, mse, used) <- rows) {
      val dims = (sub * 8) until (sub * 8 + 8)
      val n = e.length.toDouble
      val variance = dims.map { d =>
        val mean = e.map(_(d)).sum / n
        e.map(v => (v(d) - mean) * (v(d) - mean)).sum / n
      }.sum / 8
      assert(mse < variance * 0.9, s"subspace $sub: $mse !< 0.9*$variance")
      assert(mse >= 0 && used >= 2 && used <= 16)
    }
    // Seeded fit + literal-codebook encode → bit-deterministic reruns.
    val again = Similarity.pqReport(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(again.toSeq == rows.toSeq)
  }

  test("PQ ADC top-k recalls a usable fraction of the exact L2 top-k") {
    val k = 20
    val got = Similarity.pqTopK(spark, dir, 0L, k = k).collect()
      .map(_.getLong(0))
    assert(got.length == k && !got.contains(0L))
    // Exact squared-L2 ranking from the raw embeddings.
    val all = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val seed = all.find(_._1 == 0L).get._2
    val exact = all.filter(_._1 != 0L)
      .map { case (id, v) =>
        id -> v.zip(seed).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
    val recall = got.count(exact.contains).toDouble / k
    info(f"PQ ADC recall@$k = $recall%.2f")
    // 4x16 codes on 64 dims is coarse; require clearly-better-than-
    // random (random 20-of-499 overlap expects ~0.04).
    assert(recall >= 0.3, f"recall@$k = $recall%.2f")
    // Determinism: seeded fit + literal tables → identical reruns.
    val again = Similarity.pqTopK(spark, dir, 0L, k = k).collect()
      .map(_.getLong(0))
    assert(again.toSeq == got.toSeq)
  }

  test("IVF-PQ combines coarse pruning with ADC ranking, usable recall") {
    val k = 20
    val got = Similarity.ivfPqTopK(spark, dir, 0L, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.length == k && !got.map(_._1).contains(0L))
    // ADC distances ascend (with the vec_id tie-break).
    assert(got.toSeq.sliding(2).forall {
      case Seq(a, b) => a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)
      case _ => true
    })
    // Probing ALL cells makes IVF-PQ degrade to exactly pure-PQ ADC:
    // same codebooks, same tables, no pruning — results must be equal.
    val allCells = Similarity.ivfPqTopK(spark, dir, 0L, k = k,
      nProbe = 1000).collect().map(r => (r.getLong(0), r.getDouble(2)))
    val purePq = Similarity.pqTopK(spark, dir, 0L, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(allCells.toSeq == purePq.toSeq)
    // Pruned recall vs the exact scan stays clearly better than random.
    val all = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val seed = all.find(_._1 == 0L).get._2
    val exact = all.filter(_._1 != 0L)
      .map { case (id, v) =>
        id -> v.zip(seed).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
    val recall = got.map(_._1).count(exact.contains).toDouble / k
    info(f"IVF-PQ recall@$k = $recall%.2f")
    assert(recall >= 0.2, f"recall@$k = $recall%.2f")
  }

  test("ANN quality report: per-method recall floors against exact baselines") {
    val rows = Similarity.annQualityReport(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getDouble(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("ivf", "pq_adc", "ivf_pq"))
    assert(rows.values.forall { case (_, rc, n) =>
      rc >= 0.0 && rc <= 1.0 && n == 20L
    })
    assert(rows("ivf")._1 == "cosine" && rows("pq_adc")._1 == "l2")
    // The floors the serving specs assert individually, through the
    // report path: IVF well above half, the coded paths above random.
    assert(rows("ivf")._2 >= 0.5, rows.toString)
    assert(rows("pq_adc")._2 >= 0.2 && rows("ivf_pq")._2 >= 0.1,
      rows.toString)
  }

  test("SRP-LSH pairs: verified cosines respect the threshold and ordering") {
    val pairs = Similarity.srpLshPairs(spark, dir, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.forall(p => p._1 < p._2))
    assert(pairs.forall(_._3 >= 0.3))
    // pairs are unique
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
  }

  test("semdedup: cell totals reconcile, drops fire, keep-min holds") {
    val rows = Similarity.semDedupReport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nVecs = Tables.load(spark, dir, "embeddings").count()
    assert(rows.map(_._2).sum == nVecs) // every vector in exactly one cell
    rows.foreach { case (_, n, pairs, dropped) =>
      assert(dropped <= pairs)           // each drop needs >= 1 pair
      assert((pairs > 0) == (dropped > 0))
      assert(dropped < math.max(n, 1L))  // min-id member always survives
    }
    // the corpus's planted near-dups co-locate often enough to fire
    assert(rows.map(_._4).sum > 0, "no semantic duplicates found")
  }

  test("knn join: k rows per query, self excluded, deterministic") {
    val rows = Similarity.knnJoin(spark, dir, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    val nVecs = Tables.load(spark, dir, "embeddings").count()
    assert(byQ.size == nVecs)
    byQ.values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1L to g.length))
      assert(g.length <= 3)
      assert(g.forall(t => t._1 != t._2))
      // ranks follow cosine descending
      val sorted = g.sortBy(_._4).map(_._3).toSeq
      sorted.zip(sorted.tail).foreach { case (a, b) => assert(a >= b) }
    }
    val again = Similarity.knnJoin(spark, dir, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(again.toSeq == rows.map(t => (t._1, t._2, t._4)).toSeq)
  }

  test("rerank: exact-cosine order over the ADC coarse set, recall >= ADC") {
    val coarse = Similarity.ivfPqTopK(spark, dir, 0L, k = 40).collect()
      .map(_.getLong(0)).toSet
    val rr = Similarity.ivfRerankTopK(spark, dir, 0L, k = 10, coarse = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(rr.length == 10)
    assert(rr.forall(t => coarse(t._1))) // refine only re-orders the coarse set
    val cos = rr.map(_._2)
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    val exact = Similarity.cosineTopK(spark, dir, 0L, k = 10).collect()
      .map(_.getLong(0)).toSet
    val adc = Similarity.ivfPqTopK(spark, dir, 0L, k = 10).collect()
      .map(_.getLong(0)).toSet
    val rrRecall = (exact intersect rr.map(_._1).toSet).size
    val adcRecall = (exact intersect adc).size
    assert(rrRecall >= adcRecall,
      s"rerank recall $rrRecall below ADC $adcRecall")
  }

  test("power iteration matches a literal driver replay; unit norm") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def sSum(xs: Seq[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)
    var v = Array.fill(64)(0.125)
    var gain = 0.0
    for (_ <- 1 to 3) {
      val scored = emb.map { case (id, e) =>
        (id, e, e.zip(v).foldLeft(0.0) { case (a, (x, w)) => a + x * w })
      }
      // two-level chunked fold, chunk = vec_id >> 10
      val u = (0 until 64).map { d =>
        val chunks = scored.groupBy(_._1 >> 10).toSeq.map { case (c, g) =>
          c -> sSum(g.map(t => t._2(d) * t._3).toSeq)
        }
        sSum(chunks.map(_._2))
      }.toArray
      gain = math.sqrt(u.foldLeft(0.0)((a, x) => a + x * x))
      v = u.map(_ / gain)
    }
    val got = Similarity.powerIteration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 64)
    got.foreach { case (d, loading, g) =>
      assert(loading == v(d.toInt), s"dim $d")
      assert(g == gain)
    }
    val norm = math.sqrt(got.map(t => t._2 * t._2).sum)
    assert(math.abs(norm - 1.0) < 1e-12)
  }

  test("vector coverage: per-source counts reconcile with a brute semi-join") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.vectorCoverage(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val vecIds = Tables.load(spark, dir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._2).sum == docs.length)
    rows.foreach { case (src, n, withV, cov) =>
      val mine = docs.filter(_._2 == src)
      assert(n == mine.length)
      assert(withV == mine.count(d => vecIds(d._1)))
      assert(cov == withV.toDouble / n && cov >= 0.0 && cov <= 1.0)
    }
  }

  test("truncation recall: full-dim truncation is the identity (recall 1), " +
    "narrow truncation stays a valid overlap fraction") {
    val k = 20
    // Truncating to ALL 64 dims must reproduce the full top-k exactly.
    val identity = Similarity.truncationRecall(spark, dir, k = k, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(identity.nonEmpty)
    identity.foreach { case (seed, n, rec) =>
      assert(n == k && rec == 1.0, s"seed $seed: $n/$k under identity truncation")
    }
    // First-16-dims: every row a well-formed fraction over the same seeds.
    val narrow = Similarity.truncationRecall(spark, dir, k = k, dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(narrow.map(_._1).toSeq ==
      Similarity.TruncationSeeds.sorted)
    narrow.foreach { case (seed, n, rec) =>
      assert(n >= 0 && n <= k, s"seed $seed overlap $n outside [0,$k]")
      assert(rec == n.toDouble / k)
    }
  }

  test("powerIteration fails loudly on an embedding that is not 64 non-null floats") {
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val good = Seq.fill(64)(Option(0.125f))
    // One short embedding, then one holding a null element.
    for (bad <- Seq(good.tail, good.tail :+ None)) {
      val d = java.nio.file.Files.createTempDirectory("graft-bad-emb").toString
      Seq((1L, good, 0), (2L, bad, 1)).toDF("vec_id", "embedding", "label")
        .write.parquet(s"$d/embeddings.parquet")
      val e = intercept[Exception](Similarity.powerIteration(spark, d).collect())
      assert(messages(e).exists(
        _.contains("1 embeddings are not 64 non-null floats")), e.toString)
    }
  }
}
