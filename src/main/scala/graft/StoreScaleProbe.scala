package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress driver for the streaming/store tier (the one major tier
  * SCALING.md had no entries for): drives the REAL ingest machinery —
  * file-source micro-batches → watermarked dropDuplicatesWithinWatermark
  * → foreachBatch generation commits — then the maintenance compaction
  * and the store-snapshot components query, and prints ONE JSON line of
  * wall times + state/layout sizes so 10× vs 100× ratios can be read
  * directly.
  *
  * Usage: tools/run.sh graft.StoreScaleProbe <sfDir> [nBatches]
  *
  * The events table is spooled into `nBatches` files first and streamed
  * with maxFilesPerTrigger=1, so the run commits ~nBatches generations —
  * the generation-accretion shape a long-lived incremental store
  * actually has (a single-file slice would drain in one batch and
  * measure nothing about accretion). Honors the scale-run env knobs
  * (SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS).
  */
object StoreScaleProbe {

  private def duBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  private def fileCount(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) 1L
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // hdfs (default) = HDFSBackedStateStoreProvider: whole state map in
    // executor memory, copied per version — per-batch cost grows with
    // TOTAL state. rocksdb = RocksDBStateStoreProvider: incremental
    // on-disk state, per-batch cost tracks the CHANGED keys — the
    // provider a long-lived 100 TB dedup stream runs.
    val stateProvider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs")
    // OPTIMIZE target file size, scaled down for probe-sized stores the
    // same way shuffle partitions are sized by data (128 MiB in
    // production; a probe store is smaller than one production file).
    sys.env.get("SPARK_GRAFT_COMPACT_TARGET_BYTES")
      .foreach(v => sys.props("spark.graft.store.compactTargetBytes") = v)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (stateProvider == "rocksdb")
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // recentProgress retains only the last numRecentProgressUpdates
    // (default ~100) entries — a run with nBatches above that would
    // silently truncate the per-batch series this probe's O(batch)
    // argument is read from. Size the buffer to the run.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (nBatches + 16).toString)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // True task-level output bytes (parquet writes), the direct
    // write-amplification measure: ingest_bytes_written / store_bytes is
    // how many times the stream rewrote its own store.
    val bytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) {
            bytesWritten.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
            ()
          }
      })

    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir#$nBatches".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val base = Scratch.dir("graft-storeprobe", tag)
    val spool = s"$base/spool"
    val store = s"$base/store"
    val ckpt = s"$base/ckpt"

    // Spool the events into nBatches CONTIGUOUS TIME-RANGE files with
    // increasing mtimes (setup, untimed): the file source delivers
    // batches in event-time order, which is what a real stream's
    // arrival looks like and what the ingest's late-data contract
    // expects. A round-robin spool (repartition(n) without keys) is NOT
    // a stream: file 1 spans the whole time range, the watermark jumps
    // to global-max − 10 min after one batch, and every later file is
    // mostly late — measured on sf0.1: an 8-file round-robin spool kept
    // only 24,604 of 93,647 true edges (74% silently dropped; the
    // defect this probe caught — see the maintainEdgeStore scaladoc).
    val ev = Tables.load(spark, sfDir, "events")
    val nEvents = ev.count()
    ev.repartitionByRange(nBatches, col("ts"))
      .write.mode("overwrite").parquet(spool)
    locally {
      val files = Option(new java.io.File(spool).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(files.length >= 2, s"expected multiple spool files in $spool")
      var mtime = System.currentTimeMillis() - 3600000
      files.foreach { f => require(f.setLastModified(mtime)); mtime += 2000 }
    }

    // --- 1. streaming ingest through the real maintenance query ---
    val raw = spark.read.parquet(spool)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(spool)
    val ((perBatch, wmDropped), tIngest) = timed {
      val q = streaming.EventStreams.maintainEdgeStore(
        stream, store, checkpointDir = Some(ckpt), availableNow = true)
      q.awaitTermination()
      // Per-batch wall + state rows: flat batch times = O(batch) commits;
      // batch times growing with ACCUMULATED state = the state backend
      // paying O(total state) per version (the HDFS-backed map copy).
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val stateRows = Option(p.stateOperators).toSeq.flatten
          .map(_.numRowsTotal).sum
        (p.batchId,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue())
            .getOrElse(-1L),
          Option(p.durationMs.get("addBatch")).map(_.longValue())
            .getOrElse(-1L),
          p.numInputRows, stateRows)
      }
      (batches, streaming.EventStreams.watermarkDropped(q))
    }
    // The time-range spool is event-time ordered, so the watermark must
    // drop NOTHING — assert on the engine's own drop counter (not just
    // the count identity below), so unordered input fails loudly here.
    require(wmDropped == 0L,
      s"watermark dropped $wmDropped input rows during the ingest — " +
        "the spool is not event-time ordered")
    val gens = streaming.EventStreams.committedGenerations(store)
    val ingestBytesWritten = bytesWritten.get()
    val edgesAfterIngest =
      streaming.EventStreams.edgeStore(spark, store).count()
    // With in-order delivery nothing is late, so stream content must
    // equal the batch dedup EXACTLY — the probe measures throughput of a
    // correct ingest, not of one quietly shedding load.
    val edgesBatchTruth =
      streaming.EventStreams.dedupedBehavioralEdges(raw).count()
    require(edgesAfterIngest == edgesBatchTruth,
      s"stream lost edges vs batch dedup: $edgesAfterIngest of " +
        s"$edgesBatchTruth (late-drop — is the spool time-ordered?)")
    val storeBytes0 = duBytes(store)
    val storeFiles0 = fileCount(store)
    val ckptBytes = duBytes(ckpt)

    // --- 2. components over the live snapshot (pre-compaction: the
    // small-files read path a long-running store serves from) ---
    def componentsOverStore(gen: Int): Array[org.apache.spark.sql.Row] = {
      val pairs = streaming.EventStreams
        .edgeStoreAt(spark, store, gen)
        .select(concat(lit("U"), col("user_id").cast("string")).as("d1"),
          concat(lit("P"), col("product_id").cast("string")).as("d2"))
        .distinct()
      graph.GraphAlgs
        .pairComponents(pairs, streaming.EventStreams.StoreComponentsRounds)
        .state.groupBy("comp").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_components"))
        .orderBy("size").collect()
    }
    val (compPre, tComponentsPre) = timed(componentsOverStore(gens.last))

    // --- 3. OPTIMIZE pass + the same query over the compacted layout ---
    val (_, tCompact) = timed {
      streaming.EventStreams.compactEdgeStore(spark, store)
    }
    val storeBytes1 = duBytes(store)
    val storeFiles1 = fileCount(store)
    val gensAfter = streaming.EventStreams.committedGenerations(store)
    val (compPost, tComponentsPost) =
      timed(componentsOverStore(gensAfter.last))
    // Row-set identity across the OPTIMIZE: a compaction that changes
    // query results is corruption, not maintenance.
    require(compPre.map(_.toString).toSeq == compPost.map(_.toString).toSeq,
      "components changed across compaction")

    val edgesAfterCompact =
      streaming.EventStreams.edgeStore(spark, store).count()
    require(edgesAfterIngest == edgesAfterCompact,
      s"edge count drifted across compaction: " +
        s"$edgesAfterIngest -> $edgesAfterCompact")

    // [batchId, triggerMs, addBatchMs, inputRows, stateRows]
    val perBatchJson = perBatch.map { case (id, ms, abMs, in, rows) =>
      s"""[$id,$ms,$abMs,$in,$rows]"""
    }.mkString("[", ",", "]")
    println(
      s"""{"probe":"store_scale","sf_dir":"$sfDir","n_events":$nEvents,""" +
      s""""state_provider":"$stateProvider","per_batch_ms":$perBatchJson,""" +
      s""""n_batches":$nBatches,"ingest_sec":${f"$tIngest%.1f"},""" +
      s""""events_per_sec":${f"${nEvents / math.max(tIngest, 1e-9)}%.0f"},""" +
      s""""generations_committed":${gens.length},""" +
      s""""watermark_dropped":$wmDropped,""" +
      s""""n_edges":$edgesAfterIngest,""" +
      s""""ingest_bytes_written":$ingestBytesWritten,""" +
      s""""store_bytes_pre":$storeBytes0,"store_files_pre":$storeFiles0,""" +
      s""""ckpt_bytes":$ckptBytes,""" +
      s""""components_pre_sec":${f"$tComponentsPre%.1f"},""" +
      s""""compact_sec":${f"$tCompact%.1f"},""" +
      s""""store_bytes_post":$storeBytes1,"store_files_post":$storeFiles1,""" +
      s""""generations_after_gc":${gensAfter.length},""" +
      s""""components_post_sec":${f"$tComponentsPost%.1f"}}""")
    spark.stop()
  }
}
