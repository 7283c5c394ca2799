package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables
import graft.operators.Relational

/** Phase S (SURVEY §2.8): the `events` table is stream-shaped (append-only,
  * monotone-ish `ts`) but the reference batch-scans it and drops `ts`
  * (reference `app/etl.py:161-164`). Here every transform is written once
  * against a DataFrame and works in BOTH modes: on `spark.read` it is a
  * batch plan with a DuckDB oracle; on `spark.readStream` Catalyst compiles
  * the identical plan incrementally (EliminateEventTimeWatermark removes
  * the watermark node in batch). That batch/stream equivalence is the
  * correctness argument for the streaming path — asserted in
  * StreamingSpec with a MemoryStream.
  *
  * Scale: windowed counts are partial-aggregated per microbatch and keyed
  * by (window, type) — state size is O(open windows × types), bounded by
  * the watermark. Dedup state is bounded the same way. Sessionization
  * keeps one small state row per active user.
  */
object EventStreams {

  /** Watermark-drop monitor: the late-data contract on
    * [[maintainEdgeStore]] is only as good as its enforcement — the
    * round-11 probe found a time-scrambled spool silently losing 74% of
    * its edges, and scaladoc alone does not stop the next caller from
    * repeating that. This listener surfaces every stateOperator's
    * `numRowsDroppedByWatermark` from query progress: a nonzero batch
    * logs a WARN naming the query and the running total, and
    * [[watermarkDropped]] exposes the counter so ingest paths (builtStore)
    * can assert zero instead of trusting input order.
    * Per-query totals are kept after termination (bounded by queries
    * started per JVM — a handful); the terminated-id set is what lets
    * readers wait out the async listener bus. */
  private object WatermarkDropMonitor {
    val drops = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.atomic.AtomicLong]()
    val terminated: java.util.Set[java.util.UUID] =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    private val log = org.slf4j.LoggerFactory.getLogger(
      "graft.streaming.WatermarkDropMonitor")
    final class Listener
        extends org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryProgressEvent): Unit = {
        val d = Option(e.progress.stateOperators).toSeq.flatten
          .map(_.numRowsDroppedByWatermark).sum
        if (d > 0) {
          val total = drops
            .computeIfAbsent(e.progress.id,
              _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(d)
          log.warn(s"query ${e.progress.id} batch ${e.progress.batchId}: " +
            s"$d input rows silently dropped by the watermark ($total " +
            "total) — input is out of event-time order; late NEW edges " +
            "are LOST relative to the batch twin. Slice backfills by " +
            "time range or use mergeEdgeBatch (no watermark).")
        }
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryTerminatedEvent): Unit = { terminated.add(e.id); () }
    }
  }

  /** Listener registration is per SESSION (each session owns its
    * StreamingQueryManager); weak keys so stopped sessions unpin. */
  private val monitoredSessions: java.util.Set[SparkSession] =
    java.util.Collections.newSetFromMap(
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def ensureDropMonitor(spark: SparkSession): Unit =
    if (monitoredSessions.add(spark))
      spark.streams.addListener(new WatermarkDropMonitor.Listener)

  /** Total input rows the watermark silently discarded over `q`'s
    * lifetime (0 for a query the monitor never saw drop). If the query
    * has stopped, waits (bounded) for its terminated event so the async
    * listener bus is known drained before the counter is read; an
    * active query returns the running total. */
  def watermarkDropped(q: org.apache.spark.sql.streaming.StreamingQuery,
                       waitMs: Long = 30000L): Long = {
    val deadline = System.currentTimeMillis() + waitMs
    while (!q.isActive && !WatermarkDropMonitor.terminated.contains(q.id)
           && System.currentTimeMillis() < deadline)
      Thread.sleep(25)
    Option(WatermarkDropMonitor.drops.get(q.id)).map(_.get()).getOrElse(0L)
  }

  /** File-replay streaming source over a testdata dir — how the driver
    * parquet becomes a stream (one file per microbatch). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    // The testdata table is a single file; the streaming file source wants
    // a directory → stream the dir with a glob pinned to the events table.
    val stream = spark.readStream.schema(Tables.schema(spark, dir, "events"))
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    Tables.normalizeTs(stream)
  }

  /** Tumbling 1-hour counts per event type with a 10-minute watermark.
    * Emits epoch-micros window starts (engine-portable, oracle-stable). */
  def windowedCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))

  /** Sliding 1-hour windows every 30 minutes (each event lands in two
    * windows) — same batch/stream duality as windowedCounts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))

  /** Batch twin for the registry, totally ordered. */
  def slidingCountsBatch(spark: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.load(spark, dir, "events"))
      .orderBy("window_start_us", "event_type")

  /** A6-within-watermark: behavioral edge maintenance as streaming dedup —
    * one (user, product, rel_type) edge regardless of how many events
    * repeat it. In batch this is plain dropDuplicates; in streaming
    * `dropDuplicatesWithinWatermark` is the variant whose state the
    * watermark actually evicts (plain dropDuplicates without the event-
    * time column keeps every key forever — unbounded state). Duplicates
    * farther apart than the watermark re-emit; the downstream store merge
    * (maintainEdgeStore) absorbs them idempotently. */
  def dedupedBehavioralEdges(events: DataFrame): DataFrame = {
    // Optional unsplittable-batch spread — the streaming twin of
    // Tables.spread: a file-source microbatch is typically ONE
    // single-row-group parquet file, a one-task scan evaluating the
    // per-event JSON parse below on a single core. Exchanging the raw
    // rows round-robin before the extraction distributes the parse —
    // but it ALSO serializes the whole batch through the one scan
    // task's shuffle write, and the 100× probe measured the spread a
    // net LOSS there (flat 12–18 s/batch without it vs 48–194 s with);
    // the steady-state parse is cheap once the state backend is RocksDB
    // (see builtStore). Kept behind a default-off knob for sources
    // whose batches are wider or whose parse is heavier; replay-safe
    // either way (the dedup keys are the only output columns, so
    // round-robin placement cannot change emitted content).
    val spread =
      if (events.isStreaming &&
          sys.props.get("spark.graft.stream.spread").contains("true"))
        events.repartition(
          events.sparkSession.sessionState.conf.numShufflePartitions)
      else events
    val typed = spread.withWatermark("ts", "10 minutes")
      .withColumn("rel_type", Relational.relTypeOf)
      .filter(col("rel_type").isNotNull)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
    val deduped =
      if (typed.isStreaming)
        typed.dropDuplicatesWithinWatermark("user_id", "k", "rel_type")
      else typed.dropDuplicates("user_id", "k", "rel_type")
    deduped.select(col("user_id"), col("k").as("product_id"), col("rel_type"))
  }

  /** Batch twin for the registry: edge counts per type after stream dedup. */
  def edgeCounts(spark: SparkSession, dir: String): DataFrame =
    dedupedBehavioralEdges(Tables.load(spark, dir, "events"))
      .groupBy("rel_type").agg(count(lit(1)).as("n"))
      .orderBy("rel_type")

  /** Batch twin for the registry: windowed counts, totally ordered. */
  def windowedCountsBatch(spark: SparkSession, dir: String): DataFrame =
    windowedCounts(Tables.load(spark, dir, "events"))
      .orderBy("window_start_us", "event_type")

  /** Per-window product interaction counts — the streaming PRE-AGGREGATION
    * of the windowed-top-k pattern: the stream maintains (window, product)
    * counts incrementally (watermarked, append-mode-safe); the RANK is a
    * serving-time view over finalized windows, because a per-window top-k
    * can change until the watermark closes the window — ranking belongs
    * after finalization, not in the incremental plan. Batch mode runs the
    * identical plan (the lambda-architecture-free argument, asserted in
    * StreamingSpec). */
  def windowProductCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("k").as("product_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("product_id"), col("n"))

  /** Serving-time rank over (finalized) window counts: top `k` products
    * per hour window, total tie-break. */
  def rankWindowCounts(counts: DataFrame, k: Int = 3): DataFrame =
    counts
      .withColumn("rk", row_number().over(
        Window.partitionBy("window_start_us")
          .orderBy(desc("n"), asc("product_id"))))
      .filter(col("rk") <= k)
      .select(col("window_start_us"), col("rk").cast("long").as("rk"),
        col("product_id"), col("n"))
      .orderBy("window_start_us", "rk")

  /** Batch twin for the registry. */
  def windowTopProductsBatch(spark: SparkSession, dir: String,
                             k: Int = 3): DataFrame =
    rankWindowCounts(
      windowProductCounts(Tables.load(spark, dir, "events")), k)

  /** Batch sessionization: 30-minute-gap sessions per user via window
    * functions (the lag/cumsum formulation every engine can express —
    * the DuckDB oracle mirrors it 1:1). */
  def sessionsBatch(spark: SparkSession, dir: String,
                    gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_no")
      .agg(min("ts_us").as("session_start_us"),
        max("ts_us").as("session_end_us"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "sess_no")
  }

  /** Stream-stream join with event-time bounds: purchases attributed to a
    * prior view of the same (user, product) within the attribution
    * window. In streaming, the watermark + time-range condition lets
    * Spark expire both join states; in batch the identical plan is a
    * plain range join (the oracle). Aggregated to attribution counts per
    * product for a bounded result. */
  def viewToPurchasePairs(views: DataFrame, purchases: DataFrame,
                          windowMinutes: Int = 60): DataFrame = {
    val v = views
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .select(col("user_id").as("v_user"), col("k").as("v_k"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val p = purchases
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .select(col("user_id").as("p_user"), col("k").as("p_k"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    v.join(p,
      col("v_user") === col("p_user") && col("v_k") === col("p_k") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
  }

  /** Batch twin for the registry: attribution counts, totally ordered. */
  def viewToPurchaseBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    viewToPurchasePairs(
      ev.filter(lower(col("event_type")) === "view"),
      ev.filter(lower(col("event_type")) === "purchase"),
      windowMinutes = 24 * 60) // 24 h: the window that attributes on this data
      .groupBy(col("p_k").as("product_id"))
      .agg(count(lit(1)).as("n_attributed"))
      .orderBy("product_id")
  }

  // ---- foreachBatch incremental edge-store maintenance (SURVEY §2.8) ----

  /** Incrementally maintain the behavioral edge store from the event
    * stream with MERGE-upsert semantics (A6), as a versioned,
    * rel_type-partitioned parquet table addressed ONLY through the Hadoop
    * `FileSystem` API — `java.io.File`, hard links, and POSIX rename
    * don't exist on HDFS/S3, the only places 100 TB lives:
    *
    *   storeDir/v7/_MANIFEST                 commit marker + snapshot:
    *                                         "VIEWED <tab> …/v5/rel_type=VIEWED"
    *                                         "VIEWED <tab> …/v7/rel_type=VIEWED"
    *   storeDir/v7/rel_type=ADDED_TO_CART/…  only partitions batch 7 touched
    *
    * Each microbatch builds generation N+1 by writing ONLY the batch's
    * own rows per touched rel_type partition — a DELTA directory appended
    * to that partition's manifest CHAIN (repeated `t\tdir` lines, chain
    * order) — so commit I/O is O(batch), NOT O(store). The old
    * rewrite-the-touched-partition merge had write amplification
    * O(store-partition) per microbatch: over a stream's life that is
    * Σ_batches |partition| ≈ B²·b bytes for B batches of size b — the
    * constant that kills a month-long 100 TB ingest even though any one
    * commit looks cheap (a 1-min-trigger day against a 1 TB store would
    * rewrite ~1.4 PB). The store's content is a SET (the MERGE contract
    * dedups on (user_id, product_id) within rel_type), so readers
    * resolve a chain as union + dropDuplicates — a delta that replays
    * rows already in the chain changes nothing, which is also what keeps
    * checkpoint-replayed batches exactly-once at the content level.
    * Chains are BOUNDED: when a partition's chain would exceed
    * [[DeltaChainCap]] dirs, the merge folds chain ∪ batch into one
    * compacted dir (a per-partition minor compaction) — read fan-in
    * stays ≤ cap dirs and amortized write amplification drops to
    * |partition|/cap per batch; [[compactEdgeStore]] (OPTIMIZE) folds
    * every chain to one dir out-of-band. Untouched partitions are
    * neither copied nor linked — the new manifest references their
    * existing chains in place, exactly what a Delta/Iceberg MERGE
    * records in its snapshot.
    * Publishing is the create-then-rename of the _MANIFEST inside the new
    * generation (dst never pre-exists → plain `FileSystem.rename`, atomic
    * on HDFS; object stores swap this for a conditional PUT): readers
    * resolve "the store" as the highest generation WITH a manifest, so a
    * crash at any earlier point leaves the previous generation live and
    * complete — there is no window where the store is absent — and the
    * unpublished partial build is rebuilt by the next merge. GC retains
    * the manifest closures of the new AND previous generations (one
    * publish cycle of snapshot expiry for in-flight readers); a data
    * directory lives exactly as long as a retained manifest references
    * it — under chains that includes delta dirs in older generation dirs,
    * which therefore survive until a fold or OPTIMIZE releases them.
    * Read the store through `edgeStore`, never the raw dir. */
  private val Manifest = "_MANIFEST"
  private val GenName = "v(\\d+)".r

  /** Max delta dirs per rel_type partition before a merge folds the
    * chain (minor compaction). Bounds read fan-in per partition and
    * caps manifest length; 1 reproduces the old full-rewrite-per-merge
    * behavior. Tunable per deployment: higher = cheaper commits,
    * costlier cold reads between OPTIMIZE passes. */
  private[graft] def DeltaChainCap: Int =
    sys.props.get("spark.graft.store.deltaChainCap").map(_.toInt)
      .getOrElse(8)

  /** Target compacted file size for [[compactEdgeStore]]: a partition's
    * chain folds to ceil(bytes/target) files. 128 MiB default (the
    * warehouse-standard scan split); scale probes shrink it the same
    * way they size shuffle partitions by data. */
  private[graft] def CompactTargetBytes: Long =
    sys.props.get("spark.graft.store.compactTargetBytes").map(_.toLong)
      .getOrElse(128L * 1024 * 1024)

  /** Auto-compaction read budget (VERDICT r12 item 6): SCALING.md's
    * round-12 probe priced the delta-chain read tax as a PER-DIR
    * CONSTANT (~1.3 s/dir at the 100× slice — chain 8 ≈ 13.3 s vs 2.3 s
    * compacted), so a serving read over an L-dir chain costs ≈ L·c
    * against ≈ 2·c for the compacted layout. Keeping serving reads
    * within ~2× the compacted read means folding once a chain passes
    * ~3 dirs. The stream ingest enforces this as POLICY
    * ([[maintainEdgeStore]] checks after every merged batch) so the tax
    * is bounded by the pipeline, not by an operator remembering to
    * OPTIMIZE. 0 disables (the pre-round-13 posture). */
  private[graft] def AutoCompactMaxChain: Int =
    sys.props.get("spark.graft.store.autoCompactMaxChain").map(_.toInt)
      .getOrElse(3)

  /** The policy arm of [[compactEdgeStore]]: fold the store iff some
    * live partition's delta chain exceeds `maxChain`. Returns whether a
    * compaction ran. Cost when not due: one manifest read. */
  def maybeCompactEdgeStore(spark: SparkSession, storeDir: String,
                            maxChain: Int = AutoCompactMaxChain): Boolean = {
    val longest = manifest(storeDir).values
      .foldLeft(0)((m, c) => math.max(m, c.length))
    val due = maxChain > 0 && longest > maxChain
    if (due) compactEdgeStore(spark, storeDir)
    due
  }

  private def hconf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** The live (= highest committed) generation, if any merge has ever
    * published. Listing cost is O(generations), bounded by GC. */
  def currentGen(storeDir: String): Option[Path] = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(hconf())
    if (!fs.exists(root)) None
    else fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .collect { case p @ GenPath(n) if fs.exists(new Path(p, Manifest)) =>
        (n, p) }
      .maxByOption(_._1).map(_._2)
  }

  private object GenPath {
    def unapply(p: Path): Option[Int] = p.getName match {
      case GenName(n) => Some(n.toInt)
      case _ => None
    }
  }

  /** All committed (manifest-bearing) generation numbers, ascending.
    * GC keeps the current and previous snapshots' closures, so this is
    * also the time-travel window (snapshot expiry, Iceberg-style). */
  def committedGenerations(storeDir: String): Seq[Int] = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(hconf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .collect { case p @ GenPath(n) if fs.exists(new Path(p, Manifest)) => n }
      .toSeq.sorted
  }

  /** Parse one manifest file into per-rel_type delta CHAINS (repeated
    * `t\tdir` lines, file order = chain order; no existence filtering —
    * GC uses this to inspect closures that may be partially gone). */
  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
                               mp: Path): Map[String, Seq[Path]] =
    if (!fs.exists(mp)) Map.empty
    else {
      val buf = new Array[Byte](fs.getFileStatus(mp).getLen.toInt)
      val in = fs.open(mp)
      val body = try { in.readFully(buf); new String(buf, "UTF-8") }
      finally in.close()
      body.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val Array(t, p) = line.split("\t", 2)
        t -> new Path(p)
      }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    }

  /** Snapshot of one committed generation: rel_type → delta-dir chain
    * (dirs possibly in older generations — chains carry forward in
    * place; a single-dir chain is exact, a longer one dedups at read).
    *
    * A snapshot whose closure is no longer fully on disk — GC removed a
    * data dir it carries forward, or a publish raced this read — is
    * EXPIRED: it degrades to the empty map (→ the empty typed frame),
    * never to a partial snapshot or an AnalysisException. GC also
    * unpublishes such manifests ([[publishGeneration]]), so steady-state
    * [[committedGenerations]] only lists fully readable snapshots; the
    * existence check here closes the read-side race. Cost: O(rel_type
    * vocabulary × chain cap) exists() calls. */
  def manifestAt(storeDir: String, gen: Int): Map[String, Seq[Path]] = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(hconf())
    val snap = readManifestFile(fs, new Path(new Path(root, s"v$gen"), Manifest))
    if (snap.nonEmpty && snap.values.forall(_.forall(fs.exists))) snap
    else Map.empty
  }

  /** The live snapshot. */
  def manifest(storeDir: String): Map[String, Seq[Path]] =
    currentGen(storeDir) match {
      case None => Map.empty
      case Some(gen) => manifestAt(storeDir,
        gen.getName match { case GenName(n) => n.toInt })
    }

  /** STRICT live snapshot for the WRITE path. Degrade-to-empty is a
    * READ-side convention: a reader of an expired snapshot gets the
    * empty typed frame. A WRITER must never see that degradation — a
    * merge that resolves the live manifest to empty because one
    * carried-forward dir was transiently unreadable (object-store
    * eventual consistency, external tampering) would publish a next
    * generation WITHOUT the untouched partitions, silently dropping
    * them from the store forever. Fail the merge loudly instead; the
    * stream retries the batch, and a genuinely damaged store needs an
    * operator, not an auto-amputation. */
  private def manifestStrict(storeDir: String): Map[String, Seq[Path]] = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(hconf())
    currentGen(storeDir) match {
      case None => Map.empty
      case Some(gen) =>
        val n = gen.getName match { case GenName(x) => x.toInt }
        val snap = readManifestFile(fs,
          new Path(new Path(root, s"v$n"), Manifest))
        val missing = snap.values.flatten.filterNot(fs.exists)
        if (missing.nonEmpty) throw new java.io.IOException(
          s"edge store $storeDir: live manifest v$n references missing " +
            s"data dirs ${missing.mkString(", ")} — refusing to publish " +
            "a generation that would drop carried-forward partitions")
        snap
    }
  }

  /** Resolve one partition's delta chain to its exact edge set. A
    * single-dir chain (fresh fold or OPTIMIZE output) is exact as
    * written — no dedup, no shuffle; a longer chain dedups the union
    * (deltas may repeat edges already in the chain — by replay or by
    * re-interaction — and the MERGE contract is set semantics). The
    * dedup shuffle is bounded by the partition, and the cap bounds the
    * union fan-in. */
  private def readChain(spark: SparkSession, chain: Seq[Path]): DataFrame = {
    val u = chain.map(p => spark.read.parquet(p.toString)
        .select(col("user_id").cast("long"), col("product_id").cast("long")))
      .reduce(_.unionByName(_))
    if (chain.lengthCompare(1) > 0) u.dropDuplicates("user_id", "product_id")
    else u
  }

  private def readSnapshot(spark: SparkSession,
                           snap: Map[String, Seq[Path]]): DataFrame =
    if (snap.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long, String)]
        .toDF("user_id", "product_id", "rel_type")
    } else snap.toSeq.sortBy(_._1).map { case (t, chain) =>
      readChain(spark, chain).withColumn("rel_type", lit(t))
    }.reduce(_.unionByName(_))

  /** Read the live edge store (empty-but-typed frame before first publish —
    * the graceful-degradation convention of Tables.loadSafe). The union is
    * bounded by the rel_type vocabulary, not the data. */
  def edgeStore(spark: SparkSession, storeDir: String): DataFrame =
    readSnapshot(spark, manifest(storeDir))

  /** Time travel: read the store AS OF a committed generation — free
    * with manifest commits (a snapshot is just an older manifest), valid
    * within the GC retention window ([[committedGenerations]]); an
    * expired generation degrades to the empty typed frame like every
    * other missing source. */
  def edgeStoreAt(spark: SparkSession, storeDir: String,
                  gen: Int): DataFrame =
    readSnapshot(spark, manifestAt(storeDir, gen))

  /** Thrown when the next-generation commit claim cannot be acquired
    * (another writer holds it past this committer's patience) or is
    * found broken at publish time. The caller's retry re-reads the
    * advanced head, so a streaming retry of the batch merges into the
    * NEW current generation — no lost update. */
  class ConcurrentEdgeStoreCommit(msg: String)
    extends java.io.IOException(msg)

  /** A claim older than this belongs to a crashed committer (the claim
    * is created immediately before the build and deleted immediately
    * after publish; no healthy build in this engine approaches 10 min)
    * and is broken by the next claimer, which also reclaims the
    * unpublished partial generation dir — the single-writer crash story
    * unchanged, now crash-safe under concurrency too. */
  private[graft] val ClaimTtlMs: Long = 10L * 60 * 1000
  private val ClaimRetries = 150
  private val ClaimRetrySleepMs = 200L

  /** FILESYSTEM CONTRACT for the claim protocol: the store's filesystem
    * MUST provide ATOMIC CREATE-IF-ABSENT (exactly one of N concurrent
    * creators of the same path succeeds, the rest fail). That primitive
    * is what makes the claim file a cross-process mutex. Satisfied by:
    * local/file (NIO `CREATE_NEW` = POSIX O_EXCL — used directly, since
    * Hadoop's LocalFileSystem `create(overwrite=false)` is
    * check-then-act), HDFS (namenode-atomic create), ABFS and GCS
    * (connector implements conditional create via ETag/generation
    * preconditions). NOT satisfied by S3-family and other
    * last-writer-wins object stores whose Hadoop connectors implement
    * `create(overwrite=false)` as a HEAD probe followed by an
    * unconditional PUT — two committers can both "win" the claim and
    * interleave one generation dir. Rather than degrade silently into
    * exactly the lost-commit race the protocol exists to prevent, store
    * paths on those schemes are REFUSED loudly here (the standard
    * Delta-on-S3 posture: front a commit coordinator, e.g. a DynamoDB
    * LogStore, then mount it under a scheme that keeps the contract).
    * Escape hatch for deployments that have external serialization:
    * `-Dspark.graft.store.claimFs.unsafe=true` acknowledges the
    * contract is provided elsewhere. */
  private val NonAtomicCreateSchemes =
    Set("s3", "s3a", "s3n", "swift", "oss", "cos", "cosn", "obs")

  private[graft] def requireClaimCapableFs(root: Path): Unit = {
    val scheme = Option(root.toUri.getScheme).getOrElse("file").toLowerCase
    if (NonAtomicCreateSchemes.contains(scheme) &&
        !sys.props.get("spark.graft.store.claimFs.unsafe").contains("true"))
      throw new UnsupportedOperationException(
        s"edge store at '$root' uses scheme '$scheme', which cannot " +
          "provide the claim protocol's required primitive (atomic " +
          "create-if-absent): concurrent committers could both claim a " +
          "generation and silently destroy each other's commits. Use a " +
          "filesystem with atomic create (file/hdfs/abfs/gs), or front " +
          "a commit coordinator and set " +
          "-Dspark.graft.store.claimFs.unsafe=true to acknowledge " +
          "external serialization.")
  }

  /** Atomically create-if-absent the claim file with this committer's
    * token as content. On the local scheme Hadoop's
    * `create(overwrite = false)` is CHECK-then-act (two processes can
    * both pass the exists probe), so the claim goes through NIO
    * `CREATE_NEW` — POSIX O_EXCL, truly atomic. Elsewhere the
    * FileSystem contract applies: atomic on HDFS; unsupported on bare
    * S3 (front a commit coordinator there, the standard Delta-on-S3
    * caveat). */
  private[graft] def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
                              claim: Path, token: String): Boolean = {
    def create(): Boolean =
      if (fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
          fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem])
        try {
          val nio = java.nio.file.Paths.get(
            fs.makeQualified(claim).toUri.getPath)
          java.nio.file.Files.createDirectories(nio.getParent)
          java.nio.file.Files.write(nio, token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.io.IOException => false }
      else
        try {
          val out = fs.create(claim, false)
          try out.write(token.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
    create() || {
      // Stale-break is inherently check-then-act (no FS compare-and-
      // delete primitive), so bind the break to the EXACT claim observed
      // stale: record its owner token at staleness detection and re-read
      // at the last instant before the delete. If the stale owner
      // released and a fresh committer claimed in between, the token
      // differs and the fresh claim is left alone (the fresh committer
      // proceeds; we fall back to the retry loop) — the old
      // unconditional delete destroyed it and handed this committer a
      // claim the other side believed it held, failing the innocent
      // party with a spurious ConcurrentEdgeStoreCommit after its whole
      // build. The residual window (release+re-claim between the
      // re-read and the delete, with the SAME uuid token — impossible
      // by construction, tokens are per-attempt UUIDs) is gone; a
      // release+re-claim with a new token in that instant is caught by
      // the token comparison.
      val staleTok: Option[String] =
        try {
          val st = fs.getFileStatus(claim)
          if (System.currentTimeMillis() - st.getModificationTime > ClaimTtlMs)
            Some(claimOwner(fs, claim)) // may be "" — a crash between
                                        // create and write leaves an
                                        // empty claim; still breakable
          else None
        } catch { case _: java.io.FileNotFoundException => None }
      staleTok.exists { tok =>
        claimOwner(fs, claim) == tok &&
          { fs.delete(claim, false); create() }
      }
    }
  }

  /** Release a claim ONLY while still owned by this committer — the
    * same last-instant ownership check [[publishGeneration]] performs.
    * Unconditional release had a lost-commit window: a builder that
    * outlives [[ClaimTtlMs]] has its claim broken and re-created by a
    * usurper; deleting the usurper's LIVE claim on the way out would let
    * a third committer claim the same generation, pass the
    * manifest-absence probe, and delete the usurper's generation dir
    * just as its publish landed — a committed batch silently destroyed.
    * With the owner check the timed-out builder leaves the usurper's
    * claim untouched (its own failure is already loud via the publish
    * ownership check). */
  private def releaseClaim(fs: org.apache.hadoop.fs.FileSystem,
                           claim: Path, token: String): Unit =
    try { if (claimOwner(fs, claim) == token) { fs.delete(claim, false); () } }
    catch { case _: java.io.IOException => () }

  private def claimOwner(fs: org.apache.hadoop.fs.FileSystem,
                         claim: Path): String =
    try {
      val in = fs.open(claim)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    } catch { case _: Exception => "" }

  /** Everything a claimed commit needs: the head it was claimed
    * against, its strict manifest, the claimed generation dir, and the
    * claim identity publishGeneration re-verifies before the manifest
    * rename. */
  private case class CommitClaim(cur: Option[Path],
                                 curMan: Map[String, Seq[Path]], next: Path,
                                 claim: Path, token: String)

  /** CONCURRENT-COMMITTER CONTRACT: writers to one store serialize via
    * an exclusive claim on the next generation number. A committer that
    * finds the claim held waits (bounded patience), re-reading the head
    * each attempt, so interleaved committers each land on a fresh
    * generation — every committed batch survives, untouched partitions
    * carry forward, nothing is lost. A committer whose patience runs
    * out, or whose claim is found broken at publish time, fails LOUDLY
    * with [[ConcurrentEdgeStoreCommit]]; crashed committers' stale
    * claims are broken after [[ClaimTtlMs]]. */
  /** In-JVM committer serialization, striped per store path: threads of
    * ONE process take a monitor before contending on the claim file, so
    * same-JVM committers queue without claim-retry sleep churn; the
    * claim file remains the cross-PROCESS serializer. */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withCommitClaim[A](storeDir: String)
      (build: CommitClaim => A): A = {
    val root = new Path(storeDir)
    requireClaimCapableFs(root)
    val fs = root.getFileSystem(hconf())
    val lock = storeLocks.computeIfAbsent(
      fs.makeQualified(root).toString, _ => new Object)
    lock.synchronized { withCommitClaimLocked(fs, root, storeDir)(build) }
  }

  private def withCommitClaimLocked[A](
      fs: org.apache.hadoop.fs.FileSystem, root: Path, storeDir: String)
      (build: CommitClaim => A): A = {
    fs.mkdirs(root)
    val token = s"${graft.Scratch.jvmTag}:${java.util.UUID.randomUUID()}"
    var attempt = 0
    while (attempt < ClaimRetries) {
      val cur = currentGen(storeDir)
      val curN = cur.map(_.getName match { case GenName(n) => n.toInt })
        .getOrElse(0)
      val next = new Path(root, s"v${curN + 1}")
      val claim = new Path(root, s"v${curN + 1}.claim")
      if (tryClaim(fs, claim, token)) {
        try {
          // The head may have advanced between the read and the claim
          // (the winner published and released v(curN+1) already): a
          // claim on a PUBLISHED generation is meaningless — release
          // and retry against the new head.
          if (!fs.exists(new Path(next, Manifest)))
            return build(
              CommitClaim(cur, manifestStrict(storeDir), next, claim, token))
        } finally { releaseClaim(fs, claim, token) }
      }
      attempt += 1
      Thread.sleep(ClaimRetrySleepMs)
    }
    throw new ConcurrentEdgeStoreCommit(
      s"gave up claiming the next generation of $storeDir after " +
        s"${ClaimRetries * ClaimRetrySleepMs / 1000} s — another " +
        "committer holds the claim (or a crashed one inside the TTL " +
        "window); retry merges into the advanced head")
  }

  /** Merge one batch of edges into the versioned store (the foreachBatch
    * body; also directly callable for batch backfill): a delta-dir
    * append on each touched partition's chain — O(batch) commit I/O —
    * folding a chain that reaches [[DeltaChainCap]]. Safe under
    * concurrent committers — see [[withCommitClaim]] for the contract. */
  def mergeEdgeBatch(incoming: DataFrame, storeDir: String): Unit = {
    val spark = incoming.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(storeDir)
    requireClaimCapableFs(root)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val inc = incoming.select("user_id", "product_id", "rel_type")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Bounded by the edge-type vocabulary (6 values), not the data.
      val touched = inc.select("rel_type").distinct().collect()
        .map(_.getString(0)).toSet
      if (touched.isEmpty) return
      withCommitClaim(storeDir) { cc =>
        // A crash mid-build leaves an unpublished (manifest-less, so
        // never visible to readers) partial generation with this name —
        // rebuild it. Exclusive under the claim: no racing builder's
        // half-written dir can be deleted here.
        if (fs.exists(cc.next)) fs.delete(cc.next, true)
        // Touched partitions: append the batch's rows as a DELTA dir on
        // the partition's chain — commit I/O is O(batch) — unless the
        // chain would exceed the cap, in which case fold chain ∪ batch
        // into one exact dir (per-partition minor compaction, the
        // amortized |partition|/cap cost that keeps read fan-in
        // bounded). Untouched partitions: chains carried forward
        // verbatim — zero I/O.
        val entries =
          scala.collection.mutable.Map.empty[String, Seq[Path]] ++
            cc.curMan.view.filterKeys(!touched.contains(_)).toMap
        for (t <- touched) {
          val mine = inc.filter(col("rel_type") === t)
            .select("user_id", "product_id")
            .dropDuplicates("user_id", "product_id")
          val chain = cc.curMan.getOrElse(t, Seq.empty)
          val dst = new Path(cc.next, s"rel_type=$t")
          if (chain.lengthCompare(DeltaChainCap) >= 0) {
            val folded = (readChain(spark, chain).unionByName(mine))
              .dropDuplicates("user_id", "product_id")
            folded.write.mode("overwrite").parquet(dst.toString)
            entries(t) = Seq(dst)
          } else {
            mine.write.mode("overwrite").parquet(dst.toString)
            entries(t) = chain :+ dst
          }
        }
        publishGeneration(fs, root, cc.next, entries.toMap, cc.cur,
          cc.curMan, Some(cc))
      }
    } finally { inc.unpersist(); () }
  }

  /** Commit a built generation: write the manifest beside the data, one
    * atomic rename to its final name (which never pre-exists in a fresh
    * generation dir — the portable FileSystem.rename contract), then GC
    * generation dirs referenced by NEITHER the new nor the previous
    * snapshot. The previous closure is the snapshot-expiry window — a
    * reader that resolved it just before this publish may still be
    * mid-read; anything older has survived a full publish cycle with no
    * possible reader. */
  private def publishGeneration(fs: org.apache.hadoop.fs.FileSystem,
                                root: Path, next: Path,
                                entries: Map[String, Seq[Path]],
                                prevGen: Option[Path],
                                prevMan: Map[String, Seq[Path]],
                                claim: Option[CommitClaim] = None): Unit = {
    val body = entries.toSeq.sortBy(_._1)
      .flatMap { case (t, chain) => chain.map(p => s"$t\t$p") }
      .mkString("\n")
    val tmp = new Path(next, Manifest + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // Last-instant ownership check: if a build outlived the claim TTL
    // and another committer broke the claim, publishing would interleave
    // two builders in one generation dir — abort loudly instead. The
    // window between this check and the rename is the residual race,
    // negligible against the 10-min TTL.
    for (cc <- claim if claimOwner(fs, cc.claim) != cc.token)
      throw new ConcurrentEdgeStoreCommit(
        s"commit claim ${cc.claim} was broken during the build " +
          "(TTL exceeded and taken over) — aborting this publish")
    if (!fs.rename(tmp, new Path(next, Manifest)))
      throw new java.io.IOException(s"manifest publish failed for $next")
    val retained = (Set(next.getName) ++ prevGen.map(_.getName) ++
      entries.values.flatten.map(_.getParent.getName) ++
      prevMan.values.flatten.map(_.getParent.getName))
    for (st <- fs.listStatus(root)
         if st.isDirectory && !retained.contains(st.getPath.getName)
           && GenName.pattern.matcher(st.getPath.getName).matches())
      fs.delete(st.getPath, true)
    // A generation DIR can outlive its own snapshot: one of its partition
    // dirs is carried forward by the live manifest (→ the dir is
    // retained) while its manifest still references a data dir in a
    // generation just deleted above. Unpublish such manifests so
    // committedGenerations lists only fully readable snapshots — the
    // time-travel window must be the real one, not the dir listing.
    for (st <- fs.listStatus(root)
         if st.isDirectory
           && GenName.pattern.matcher(st.getPath.getName).matches()
           && st.getPath.getName != next.getName
           && !prevGen.map(_.getName).contains(st.getPath.getName)) {
      val mp = new Path(st.getPath, Manifest)
      val snap = readManifestFile(fs, mp)
      if (snap.nonEmpty &&
          !snap.values.flatten
            .forall(p => retained.contains(p.getParent.getName)))
        fs.delete(mp, false)
    }
  }

  /** OPTIMIZE pass: rewrite every live partition into a compact file
    * layout and publish it as a new generation over the same
    * manifest-commit machinery (readers never block; a crash leaves the
    * old snapshot live). A long-running incremental store accretes one
    * small parquet dir per touched partition per microbatch — at scale
    * the classic small-files collapse (every scan pays per-file open +
    * listing); this is the Delta/Iceberg OPTIMIZE twin. Runs out-of-band
    * of the stream (a maintenance job), row-set identity asserted in
    * StreamingSpec. */
  def compactEdgeStore(spark: SparkSession, storeDir: String,
                       filesPerPartition: Int = 0): Unit = {
    val root = new Path(storeDir)
    requireClaimCapableFs(root)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (manifest(storeDir).isEmpty) return
    withCommitClaim(storeDir) { cc =>
      if (cc.curMan.nonEmpty) {
        if (fs.exists(cc.next)) fs.delete(cc.next, true)
        var anyRewrite = false
        val entries = cc.curMan.map { case (t, chain) =>
          // Fold the whole delta chain to one exact dir, sized to the
          // target file size: nFiles = ceil(chain bytes / target), so a
          // big partition compacts to many target-sized files, never to
          // ONE unsplittable row group. (Parquet files split at row-
          // group granularity and the writer's block size matches the
          // file target, so a single compacted file is read by a single
          // task no matter how many input splits the scan planner cuts —
          // the 100× probe measured the components query 1.6× SLOWER
          // over a 1-file-per-partition compaction than over the delta
          // chains it replaced. Small stores still fold to one file,
          // which is the open-cost win compaction exists for.)
          val nFiles =
            if (filesPerPartition > 0) filesPerPartition
            else {
              val bytes = chain.map { dir =>
                if (fs.exists(dir)) fs.getContentSummary(dir).getLength
                else 0L
              }.sum
              math.max(1L, (bytes + CompactTargetBytes - 1) /
                CompactTargetBytes).toInt
            }
          val singleDirFiles =
            if (chain.lengthCompare(1) == 0 && fs.exists(chain.head))
              fs.listStatus(chain.head).count(st => st.isFile &&
                st.getPath.getName.endsWith(".parquet"))
            else -1
          if (singleDirFiles == nFiles) {
            // Already one exact dir at the target layout: carry the
            // chain forward IN PLACE (manifest reference, zero I/O) —
            // re-reading a compacted partition through a 1-task scan
            // just to write the same bytes is the pointless arm of the
            // old unconditional rewrite.
            t -> chain
          } else {
            anyRewrite = true
            val dst = new Path(cc.next, s"rel_type=$t")
            // Mechanism: coalesce can only SHRINK the task count — fine
            // for a multi-dir fold (its dedup shuffle emits ≥ nFiles
            // partitions) and for a single dir with too many files, but
            // a single dir BELOW target (e.g. an old 1-file fold after
            // the target grew) reads as one task and coalesce(nFiles)
            // silently stays one file — the one-way ratchet. That grow
            // case must repartition (a real shuffle, paid only when the
            // layout is actually wrong).
            val resized =
              if (singleDirFiles >= 0 && singleDirFiles < nFiles)
                readChain(spark, chain).repartition(nFiles)
              else readChain(spark, chain).coalesce(nFiles)
            resized.write.mode("overwrite").parquet(dst.toString)
            t -> Seq(dst)
          }
        }
        // Every partition already at target: publishing a generation
        // that is a pure alias of the head would burn a snapshot-expiry
        // window for nothing — OPTIMIZE is idempotent as a no-op.
        if (anyRewrite)
          publishGeneration(fs, root, cc.next, entries, cc.cur, cc.curMan,
            Some(cc))
      }
    }
  }

  /** `checkpointDir` makes the maintenance query RESTARTABLE — offsets
    * and the dedup state live in the checkpoint, so a killed query
    * resumes at its last uncommitted batch; replays of a batch whose
    * store merge DID land before the crash are absorbed by the merge's
    * idempotent upsert (exactly-once store content, asserted with a
    * real kill/restart in StreamingSpec). Concurrent writers to one
    * store serialize through the next-generation commit claim
    * ([[ConcurrentEdgeStoreCommit]] names the loud-failure arm) — every
    * committed batch survives, untouched partitions carry forward.
    * `availableNow` drains all
    * currently-available input and stops — the batch-ingest trigger the
    * registry's store-sourced queries use.
    *
    * LATE-DATA CONTRACT: the ingest expects approximately EVENT-TIME
    * ORDERED arrival; the watermark delay (10 min) is the tolerated
    * disorder bound. Rows older than `max(ts seen) − delay` are dropped
    * by the watermarked dedup BEFORE the store merge — standard
    * Structured Streaming semantics, but for this store it means a late
    * NEW edge is lost relative to the batch twin, not merely deduped.
    * Feeding time-scrambled files (e.g. a round-robin spool of a sorted
    * table, where file 1 spans the full time range and advances the
    * watermark past everything) silently discards most of the input:
    * measured on the sf0.1 slice, a round-robin 8-file spool kept only
    * 24,604 of 93,647 true edges (74% dropped). Backfills
    * of unordered history must either slice input by time range
    * (a `repartitionByRange` spool on the event time) or
    * use the batch path (`mergeEdgeBatch` directly), which has no
    * watermark. With in-order delivery, store content equals the batch
    * dedup exactly (asserted in StreamingSpec). */
  def maintainEdgeStore(events: DataFrame, storeDir: String,
                        checkpointDir: Option[String] = None,
                        availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Fail at query START, not inside the first micro-batch's
    // foreachBatch (where it would surface as a wrapped streaming error
    // after ingest work was already done).
    requireClaimCapableFs(new Path(storeDir))
    // Out-of-order input must fail LOUDLY, not by scaladoc: the monitor
    // WARNs on any watermark-dropped batch and backs [[watermarkDropped]]
    // for callers that assert zero (builtStore).
    ensureDropMonitor(events.sparkSession)
    var w = dedupedBehavioralEdges(events).writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mergeEdgeBatch(batch.toDF(), storeDir)
        // Policy-bounded chain tax (VERDICT r12 item 6): after each
        // committed merge, fold the store if any partition's chain
        // passed the read budget — content-invariant (row identity is
        // the compaction contract, asserted in StreamingSpec), so the
        // stream's observable output is untouched.
        maybeCompactEdgeStore(batch.sparkSession, storeDir)
        ()
      }
    checkpointDir.foreach(c => w = w.option("checkpointLocation", c))
    if (availableNow)
      w = w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    w.start()
  }

  /** Number of min-label rounds for the store-sourced components query —
    * shared with the unrolled SQL twin (StreamingRegistry). */
  val StoreComponentsRounds: Int = 10

  /** Build the behavioral edge store from the REAL file stream, once per
    * (session, dir), and return its path: `readStream` over the events
    * table → watermarked dedup → foreachBatch merge, checkpointed,
    * `Trigger.AvailableNow`. This is the ingest loop the reference's
    * event log implies (`postgres/init/01_schema.sql:33-39`, batch-
    * scanned at `app/etl.py:161-164`) run through the actual streaming
    * machinery — NOT a batch shortcut — so store-sourced registry
    * queries exercise generation commit + snapshot read end-to-end.
    * Scratch-scoped ([[graft.Scratch]]): per-JVM path, swept on exit;
    * a second session in the same JVM re-drains against the same
    * checkpoint, which is a no-op (no new files) — idempotent. */
  def builtStore(spark: SparkSession, dir: String): String =
    graft.Memo.get(spark, "edge-store-stream", dir) {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(12)
      val base = graft.Scratch.dir("graft-estore", tag)
      // Pin the RocksDB state store for the ingest: the 100× store probe
      // measured the default HDFS-backed provider hitting a one-time
      // multi-hundred-second single-core stall at >1M-row dedup state
      // (531 s on one batch; 4.9× total ingest) that RocksDB — whose
      // per-version cost tracks CHANGED keys, not total state — does not
      // exhibit (flat 12–18 s/batch). Provider choice cannot change
      // results, only the state backend. The pin lives on a CLONED
      // session (newSession(): shared SparkContext — same executors,
      // same Memo scope — own SQLConf and StreamingQueryManager), so a
      // stream started concurrently on the caller's session can never
      // inherit RocksDB mid-window, and two concurrent Memo misses
      // cannot interleave a set/restore on the shared conf (the old
      // mutate-and-restore hazard).
      val ingest = spark.newSession()
      ingest.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      val q = maintainEdgeStore(eventStream(ingest, dir), s"$base/store",
        checkpointDir = Some(s"$base/ckpt"), availableNow = true)
      q.awaitTermination()
      // The real file stream is event-time-ordered, so the watermark
      // must drop nothing; a nonzero count here means the store silently
      // diverged from the batch twin (the round-11 probe failure mode) —
      // surface it beyond the monitor's WARN.
      val dropped = watermarkDropped(q)
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"builtStore($dir): watermark dropped $dropped input rows — " +
            "store content is NOT the exact batch dedup")
      s"$base/store"
    }

  /** Two-generation edge store built through the BATCH BACKFILL path
    * (mergeEdgeBatch called directly — the documented non-streaming
    * entry): generation 1 holds the first half of event time,
    * generation 2 merges the second half. Memoized per (session, dir);
    * returns the store path. The halving cutpoint is exact long
    * arithmetic over epoch micros (min + (max−min)/2), so the SQL twin
    * reproduces it bit-for-bit. */
  private def builtTwoGenStore(spark: SparkSession, dir: String): String =
    graft.Memo.get(spark, "edge-store-twogen", dir) {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(12)
      val store = graft.Scratch.dir("graft-estore2", tag) + "/store"
      val ev = graft.Tables.load(spark, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val cut = ev.agg(min("ts_us").as("mn"), max("ts_us").as("mx"))
        .selectExpr("mn + ((mx - mn) div 2) AS cut") // exact long div
        .head().getLong(0)
      if (committedGenerations(store).length < 2) {
        mergeEdgeBatch(
          dedupedBehavioralEdges(ev.filter(col("ts_us") < cut)), store)
        mergeEdgeBatch(
          dedupedBehavioralEdges(ev.filter(col("ts_us") >= cut)), store)
      }
      store
    }

  /** TIME TRAVEL as a first-class query: the per-type count of edges
    * that are NEW between two committed generations of the edge store —
    * snapshot N−1 anti-joined from snapshot N, both resolved through
    * their manifests ([[edgeStoreAt]]). This is the ingest-audit query
    * every incremental warehouse needs ("what did yesterday's load
    * add?"), and it is exactly-once checkable: the oracle predicts the
    * same counts from the event halves directly, so a merge that
    * duplicated, dropped, or mis-carried a partition across generations
    * hash-fails. Cost: two manifest resolutions + one anti-join keyed
    * on the deduped edge triple — O(store), no event re-scan. */
  def storeGenerationDiff(spark: SparkSession, dir: String): DataFrame = {
    val store = builtTwoGenStore(spark, dir)
    val gens = committedGenerations(store)
    require(gens.length >= 2,
      s"two-generation store at $store has ${gens.length} generations")
    val before = edgeStoreAt(spark, store, gens(gens.length - 2))
    val after = edgeStoreAt(spark, store, gens.last)
    after.join(before, Seq("user_id", "product_id", "rel_type"),
        "left_anti")
      .groupBy("rel_type").agg(count(lit(1)).as("n_new"))
      .orderBy("rel_type")
  }

  /** The OPTIMIZE pass as a driver-visible row: compact the streamed
    * store's live partitions ([[compactEdgeStore]], coalesce to one
    * file each, published as a new generation over the same manifest
    * commit) and report per-type row counts + physical file counts.
    * The oracle predicts both: rows from the batch event dedup (row-set
    * identity is the compaction CONTRACT), files = 1 per partition by
    * the rewrite parameter — so a compaction that dropped, duplicated,
    * or split rows hash-fails. The per-type file listing is a
    * rel_type-vocabulary-bounded driver fold (≤6 exists/list calls),
    * the sanctioned serving-shim shape. */
  def storeCompactionReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = builtStore(spark, dir)
    compactEdgeStore(spark, store, filesPerPartition = 1)
    val man = manifestAt(store, committedGenerations(store).last)
    val fs = new Path(store).getFileSystem(hconf())
    val files = man.toSeq.map { case (t, chain) =>
      (t, chain.map(p =>
        fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))).sum)
    }.toDF("rel_type", "n_files")
    edgeStore(spark, store)
      .groupBy("rel_type").agg(count(lit(1)).as("n"))
      .join(broadcast(files), "rel_type")
      .orderBy("rel_type")
  }

  /** Long-lived-service state built once, untimed (the Bench warm-up
    * shape shared with the IVF index build): the streamed edge store is
    * INGEST-side work — a deployment's maintenance stream keeps it
    * current continuously — while the store-sourced queries measure
    * what a reader pays: snapshot resolution + the propagation. */
  def prewarm(spark: SparkSession, dir: String): Unit = {
    builtStore(spark, dir)
    builtTwoGenStore(spark, dir)
    ()
  }

  /** The streaming→graph loop, closed: weakly-connected components over
    * a COMMITTED GENERATION of the streaming-maintained edge store —
    * the generational store as a first-class graph source. Nodes are
    * users and products ("U…"/"P…"), edges the deduped behavioral
    * interactions of the snapshot (rel_type collapsed: any interaction
    * connects); propagation is the shared bounded-round min-label tail
    * ([[graft.graph.GraphAlgs.pairComponents]] — state-gated, never a
    * members-sized broadcast over the gate). The oracle is the same
    * unrolled min-label SQL the batch components rows use, computed
    * over the batch dedup of the events table — equal BY the
    * stream-equals-batch convergence identity StreamingSpec proves,
    * which is exactly what makes this row close the loop. */
  def storeComponentsAt(spark: SparkSession, dir: String,
                        rounds: Int = StoreComponentsRounds): DataFrame = {
    val store = builtStore(spark, dir)
    val gens = committedGenerations(store)
    require(gens.nonEmpty,
      s"edge store at $store has no committed generation to read")
    val pairs = edgeStoreAt(spark, store, gens.last)
      .select(concat(lit("U"), col("user_id").cast("string")).as("d1"),
        concat(lit("P"), col("product_id").cast("string")).as("d2"))
      .distinct()
    graft.graph.GraphAlgs.pairComponents(pairs, rounds).state
      .groupBy("comp").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .orderBy("size")
  }

  // ---- Streaming-only stateful sessionization (flatMapGroupsWithState) ----

  case class FunnelEvent(user_id: Long, et: String, ts_us: Long)
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class StageReached(user_id: Long, stage: Int)

  /** Streaming twin of the ordered-step funnel (operators/Funnel): one
    * tiny (t1,t2,t3) state row per user, emitting a StageReached
    * transition the first time a user attains each step. Downstream
    * counts of these transitions equal the batch conversionCounts —
    * EXACT under per-user event-time-ordered delivery (then "first seen"
    * = min), which is the stated contract; the batch twin remains the
    * oracle under arbitrary disorder.
    *
    * State bound: stage 3 is TERMINAL (every guard requires an unset
    * slot), so converted users' rows are evicted by an EventTimeTimeout
    * once the watermark passes their conversion — semantics-preserving
    * eviction. What remains is one 24-byte row per not-yet-converted
    * user: inherent to funnel semantics (any user may still convert);
    * a deployment that wants less holds a TTL in the same timeout. */
  def funnelStages(events: Dataset[FunnelEvent],
                   watermarkDelay: String = "10 minutes")
      : Dataset[StageReached] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming

    def update(uid: Long, evs: Iterator[FunnelEvent],
               state: GroupState[FunnelState]): Iterator[StageReached] = {
      if (state.hasTimedOut) {
        state.remove() // converted user: no further transition possible
        Iterator.empty
      } else {
        var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
        val out = Seq.newBuilder[StageReached]
        evs.toSeq.sortBy(_.ts_us).foreach { e =>
          if (e.et == "view" && s.t1 < 0) {
            s = s.copy(t1 = e.ts_us); out += StageReached(uid, 1)
          } else if (e.et == "add_to_cart" && s.t1 >= 0 && s.t2 < 0 &&
              e.ts_us > s.t1) {
            s = s.copy(t2 = e.ts_us); out += StageReached(uid, 2)
          } else if (e.et == "purchase" && s.t2 >= 0 && s.t3 < 0 &&
              e.ts_us > s.t2) {
            s = s.copy(t3 = e.ts_us); out += StageReached(uid, 3)
          }
        }
        state.update(s)
        if (streaming && s.t3 >= 0)
          state.setTimeoutTimestamp(math.max(s.t3 / 1000L,
            state.getCurrentWatermarkMs() + 1))
        out.result().iterator
      }
    }

    if (streaming)
      events.withColumn("ets", timestamp_micros(col("ts_us")))
        .withWatermark("ets", watermarkDelay)
        .as[(Long, String, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, evs: Iterator[(Long, String, Long, java.sql.Timestamp)],
           state: GroupState[FunnelState]) =>
            update(uid, evs.map(t => FunnelEvent(t._1, t._2, t._3)), state)
        }
    else
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(update)
  }

  case class GapEvent(user_id: Long, ts_us: Long)
  case class GapState(last_us: Long)
  case class GapBucket(bucket_min: Long)

  /** Streaming twin of EventGaps.gapHistogramOf: per-user last-event
    * timestamp (8 bytes of state), each arriving event emitting its gap
    * bucket; a downstream count per bucket equals the batch histogram —
    * exact under per-user event-time-ordered delivery. State cannot be
    * TTL-evicted without changing semantics (an arbitrarily late next
    * event still defines a gap), so the bound is one row per user seen
    * — the same domain bound the batch twin's shuffle carries. */
  def gapBuckets(events: Dataset[GapEvent]): Dataset[GapBucket] = {
    import events.sparkSession.implicits._
    val bucketUs = graft.operators.EventGaps.BucketUs
    val cap = graft.operators.EventGaps.CapMinutes
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Long, evs: Iterator[GapEvent], state: GroupState[GapState]) =>
          var last = state.getOption.map(_.last_us)
          val out = Seq.newBuilder[GapBucket]
          evs.toSeq.sortBy(_.ts_us).foreach { e =>
            last.foreach { l =>
              out += GapBucket(math.min((e.ts_us - l) / bucketUs, cap))
            }
            last = Some(e.ts_us)
          }
          last.foreach(l => state.update(GapState(l)))
          out.result().iterator
      }
  }

  case class TransEvent(user_id: Long, ts_us: Long, event_id: Long,
                        et: String)
  case class TransState(ts_us: Long, event_id: Long, et: String)
  case class TransPair(src_type: String, dst_type: String)

  /** Streaming twin of the Markov transition extraction
    * (operators.Transitions): per-user last-event state (one small row),
    * each arriving event emitting its (prev → this) pair; a downstream
    * count per pair equals the batch lead-window counts — exact under
    * per-user event-time-ordered delivery (batch-internal order is
    * restored by the (ts_us, event_id) sort, the same tie-break the
    * batch twin's window imposes). Like the gap extractor, state cannot
    * be TTL-evicted without changing semantics (an arbitrarily late
    * next event still forms a pair with the last one), so the bound is
    * one row per user seen. */
  def transitionPairs(events: Dataset[TransEvent]): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Long, evs: Iterator[TransEvent], state: GroupState[TransState]) =>
          var last = state.getOption
          val out = Seq.newBuilder[TransPair]
          evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            last.foreach(l => out += TransPair(l.et, e.et))
            last = Some(TransState(e.ts_us, e.event_id, e.et))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Batch twin for the registry: the lead-window pair counts (the
    * probability normalization stays in `event_transitions`; the stream
    * maintains counts). */
  def transitionCountsBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Transitions.eventTransitions(spark, dir)
      .select("src_type", "dst_type", "n_transitions")

  case class SessionEvent(user_id: Long, ts_us: Long)
  case class SessionState(start_us: Long, last_us: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start_us: Long,
                           session_end_us: Long, n_events: Long)

  /** Custom state machine: emit a session whenever a user's next event
    * arrives more than `gapMinutes` after the previous one. The open
    * session stays in GroupState with an EventTimeTimeout at
    * last_event + gap: once the watermark passes it the session flushes
    * WITHOUT needing another event from that user — so the stream
    * eventually emits exactly `sessionsBatch`, including each user's
    * final session (asserted in StreamingSpec). State is one small row
    * per active user and the timeout is the eviction, so it cannot grow
    * with stream length. Batch input has no watermark semantics →
    * NoTimeout (every session closes by the gap logic or is still open,
    * same as the window-function batch twin's trailing session). */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes")
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    val streaming = events.isStreaming

    def update(userId: Long, evs: Iterator[SessionEvent],
               state: GroupState[SessionState]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        // Watermark passed last_us + gap: the open session is final.
        val s = state.get
        state.remove()
        Iterator.single(ClosedSession(userId, s.start_us, s.last_us, s.n))
      } else {
        val sorted = evs.toSeq.sortBy(_.ts_us)
        var cur = state.getOption
        val closed = Seq.newBuilder[ClosedSession]
        sorted.foreach { e =>
          cur match {
            case Some(s) if e.ts_us - s.last_us <= gapUs =>
              cur = Some(SessionState(s.start_us, e.ts_us, s.n + 1))
            case Some(s) =>
              closed += ClosedSession(userId, s.start_us, s.last_us, s.n)
              cur = Some(SessionState(e.ts_us, e.ts_us, 1))
            case None =>
              cur = Some(SessionState(e.ts_us, e.ts_us, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          if (streaming)
            // Spark requires the timeout to be ahead of the watermark;
            // clamp for sessions already older than it (late data).
            state.setTimeoutTimestamp(math.max(s.last_us / 1000L + gapMs,
              state.getCurrentWatermarkMs() + 1))
        }
        closed.result().iterator
      }
    }

    // EventTimeTimeout needs the watermarked event-time column to reach
    // the stateful operator, so carry `ets` through the grouping.
    if (streaming)
      events.withColumn("ets", timestamp_micros(col("ts_us")))
        .withWatermark("ets", watermarkDelay)
        .as[(Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, evs: Iterator[(Long, Long, java.sql.Timestamp)],
           state: GroupState[SessionState]) =>
            update(uid, evs.map(t => SessionEvent(t._1, t._2)), state)
        }
    else
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(update)
  }
}
