package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Z-order (Morton-interleaved) clustering for MULTI-dimensional scan
  * pruning — the layout move hive-style partitioning cannot make.
  *
  * A 1-D layout (partition or sort by one column) prunes one predicate
  * dimension; a second predicate reads everything. Z-ordering interleaves
  * the bits of two dimensions so that a 2-D box predicate touches only the
  * grid cells it overlaps: orders is laid out once by
  * `zbin = morton(bin(o_custkey), bin(day(o_orderdate)))` (G bits per
  * dimension → a 2^G × 2^G grid), written `partitionBy("zbin")`, and a box
  * query enumerates its candidate cells CLOSED-FORM on the driver (pure
  * integer math over the grid — no data touched) and hands Spark an
  * `IN (...)` partition predicate; native partition pruning then skips
  * every non-candidate file. This is the same contract Delta/Iceberg
  * Z-order + data-skipping stats provide, expressed on plain parquet.
  *
  * Everything is DETERMINISTIC and oracle-reproducible by construction —
  * the deliberate contrast with `repartitionByRange`, whose sampled
  * boundaries are nondeterministic per run (the r7 Ranks lesson):
  *  - bins come from global min/max bounds (one agg job) by exact integer
  *    math `((v - lo) * 2^G) div (hi - lo + 1)`, identical in Spark (`div`)
  *    and DuckDB (`//`) for the non-negative operands here;
  *  - the Morton interleave is the same bit-arithmetic sum on both engines
  *    (generated from one G in [[ZOrderLayout.mortonSqlTerms]]);
  *  - rows with a NULL dimension land in a reserved `zbin = -1` that every
  *    candidate set includes — a null row must degrade pruning, never
  *    correctness.
  *
  * The layout answers queries EXACTLY (candidate cells are a superset of
  * matching cells; the exact box predicate re-applies after the prune), so
  * the scan oracle is the plain filtered table. The report row pins the
  * pruning ACCOUNTING itself — bins_total / bins_candidate / bins_hit /
  * rows_match — with a DuckDB twin that recomputes all four from the raw
  * table plus the same arithmetic, so a binning drift between engines is a
  * hash mismatch, not a silent layout skew.
  *
  * At 100 TB: G grows to 8–16 bits/dim and the candidate set is enumerated
  * as MERGED MORTON RANGES (BIGMIN/LITMAX splitting — standard z-range
  * decomposition) instead of per-cell values, keeping the driver-side work
  * O(ranges), and `zbin` becomes a file-manifest column rather than a
  * directory per bin (2^32 dirs is a metadata explosion; a manifest of
  * per-file zbin min/max is the same pruning decision from one small
  * table). The G=3 grid here keeps the bench layout at 64 one-file
  * partitions while exercising the full bin → enumerate → prune → re-apply
  * pipeline.
  */
object ZOrderLayout {

  /** Bits per dimension: 2^G × 2^G grid. */
  val G = 3

  val DayUs: Long = 86400000000L

  /** Pinned 2-D box: a mid-range customer band × calendar-year 1996
    * (orders span 1995-01-01..2001-08-01 at every SF). */
  val CustLo = 100L
  val CustHi = 399L
  val DayLo: Long = java.time.LocalDate.of(1996, 1, 1).toEpochDay
  val DayHi: Long = java.time.LocalDate.of(1996, 12, 31).toEpochDay

  /** Global per-dimension bounds the binning is anchored to. */
  case class ZBounds(xmin: Long, xmax: Long, ymin: Long, ymax: Long)

  /** `((v - lo) * 2^G) div span` — exact integer math, 0..2^G-1 for v in
    * [lo, hi]. Driver-side twin of [[binSqlExpr]]. */
  def bin(v: Long, lo: Long, hi: Long): Long =
    ((v - lo) * (1L << G)) / (hi - lo + 1)

  /** Morton code: bit i of bx → position 2i+1, bit i of by → 2i. */
  def morton(bx: Long, by: Long): Long =
    (0 until G).map { i =>
      (((bx >> i) & 1L) << (2 * i + 1)) | (((by >> i) & 1L) << (2 * i))
    }.reduce(_ | _)

  /** Column twin of [[morton]] (builtins only — stays in codegen). */
  private def mortonCol(bx: Column, by: Column): Column =
    (0 until G).map { i =>
      shiftleft(shiftright(bx, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(by, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** SQL-text twin of [[bin]]: `v`, `lo`, `hi` are SQL expressions.
    * `//` is DuckDB floor division ≡ Spark `div` for the non-negative
    * operands binning produces. */
  private def binSqlExpr(v: String, lo: String, hi: String): String =
    s"((($v) - ($lo)) * ${1L << G}) // (($hi) - ($lo) + 1)"

  /** SQL-text twin of [[morton]] over bin expressions. */
  private def mortonSqlTerms(bx: String, by: String): String =
    (0 until G).map { i =>
      s"((($bx) // ${1L << i}) % 2) * ${1L << (2 * i + 1)}" +
        s" + ((($by) // ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  private def zdayExpr = s"unix_micros(o_orderdate) div $DayUs"

  /** The z-clustered layout + its bounds, built once per (JVM, dir):
    * one bounds agg (a bounded 1-row collect), one clustered write
    * (`repartition(zbin)` puts each bin in exactly one task →
    * `partitionBy` emits ONE file per bin), read back through the
    * partition-column layout Spark prunes natively. Scratch-housed like
    * the IVF index layouts (per-JVM nonce, shutdown-hook + stale GC). */
  def layout(spark: SparkSession, dir: String): (DataFrame, ZBounds) =
    graft.Memo.get(spark, "zorder-layout", dir) {
      val o = Tables.load(spark, dir, "orders")
        .withColumn("zday", expr(zdayExpr))
      val r = o.agg(
        min("o_custkey"), max("o_custkey"), min("zday"), max("zday")).head()
      val b = ZBounds(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val bx = expr(binSqlExpr("o_custkey", b.xmin.toString, b.xmax.toString)
        .replace("//", "div"))
      val by = expr(binSqlExpr("zday", b.ymin.toString, b.ymax.toString)
        .replace("//", "div"))
      val binned = o.withColumn("zbin",
          when(col("o_custkey").isNull || col("zday").isNull, lit(-1L))
            .otherwise(mortonCol(bx, by)))
        .drop("zday")
      val out = graft.Scratch.dir("graft-zorder",
        java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(12))
      binned.repartition(col("zbin"))
        .write.mode("overwrite").partitionBy("zbin").parquet(out)
      (spark.read.parquet(out), b)
    }

  /** Candidate bins for the pinned box: the grid cells of the clamped
    * rectangle, closed-form from bounds alone (no data scan), plus the
    * reserved null bin. Empty intersection → only the null bin. */
  def candidateBins(b: ZBounds): Seq[Long] = {
    val disjoint = CustLo > b.xmax || CustHi < b.xmin ||
      DayLo > b.ymax || DayHi < b.ymin
    if (disjoint) Seq(-1L)
    else {
      val bxLo = bin(math.max(CustLo, b.xmin), b.xmin, b.xmax)
      val bxHi = bin(math.min(CustHi, b.xmax), b.xmin, b.xmax)
      val byLo = bin(math.max(DayLo, b.ymin), b.ymin, b.ymax)
      val byHi = bin(math.min(DayHi, b.ymax), b.ymin, b.ymax)
      (for { x <- bxLo to bxHi; y <- byLo to byHi } yield morton(x, y)) :+ -1L
    }
  }

  /** Candidate CELLS merged into consecutive morton RANGES — the form
    * that scales: a 2^16 × 2^16 grid's box can cover millions of cells
    * but only O(box-perimeter) consecutive runs, and the partition
    * predicate becomes OR-of-BETWEEN instead of a million-element IN.
    * (The standard refinement — BIGMIN/LITMAX splitting of runs that
    * wander outside the box — matters when runs are merged ACROSS
    * non-candidate gaps; runs built from the exact cell set, as here,
    * never include a non-candidate, so range pruning stays exact.) */
  def candidateRanges(b: ZBounds): Seq[(Long, Long)] =
    candidateBins(b).sorted.foldLeft(Vector.empty[(Long, Long)]) {
      case (acc, v) => acc.lastOption match {
        case Some((lo, hi)) if v == hi + 1 => acc.init :+ (lo -> v)
        case _ => acc :+ (v -> v)
      }
    }

  private def boxFilter(df: DataFrame): DataFrame =
    df.filter(col("o_custkey").between(CustLo, CustHi) &&
      expr(zdayExpr).between(DayLo, DayHi))

  /** The box query THROUGH the pruned layout: candidate RANGES as an
    * OR-of-BETWEEN predicate on the partition column (native partition
    * pruning skips every other file), exact box re-applied on the
    * survivors. Result ≡ plain scan. */
  def zScan(spark: SparkSession, dir: String): DataFrame = {
    val (lay, b) = layout(spark, dir)
    val prune = candidateRanges(b)
      .map { case (lo, hi) => col("zbin").between(lo, hi) }
      .reduce(_ || _)
    boxFilter(lay.filter(prune))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_c"))
      .orderBy("o_orderpriority")
  }

  /** Pruning accounting as one hash-checked row: total occupied bins,
    * closed-form candidate cells, bins actually containing matches, and
    * matching rows. bins_hit ≤ bins_candidate ≤ 2^(2G) by construction;
    * the oracle recomputes all four from the raw table + the same
    * arithmetic, so engine drift in ANY step of bin → interleave → clamp
    * is a hash mismatch. */
  def zReport(spark: SparkSession, dir: String): DataFrame = {
    val (lay, b) = layout(spark, dir)
    val cells: Long = {
      val disjoint = CustLo > b.xmax || CustHi < b.xmin ||
        DayLo > b.ymax || DayHi < b.ymin
      if (disjoint) 0L
      else {
        val bxLo = bin(math.max(CustLo, b.xmin), b.xmin, b.xmax)
        val bxHi = bin(math.min(CustHi, b.xmax), b.xmin, b.xmax)
        val byLo = bin(math.max(DayLo, b.ymin), b.ymin, b.ymax)
        val byHi = bin(math.min(DayHi, b.ymax), b.ymin, b.ymax)
        (bxHi - bxLo + 1) * (byHi - byLo + 1)
      }
    }
    val tot = lay.filter(col("zbin") =!= -1)
      .agg(count_distinct(col("zbin")).as("bins_total"))
    val hit = boxFilter(lay)
      .agg(count_distinct(col("zbin")).as("bins_hit"),
        count(lit(1)).as("rows_match"))
    // Single-row aggregates crossed (the repo's 1-row broadcast pattern).
    tot.crossJoin(hit)
      .select(col("bins_total"), lit(cells).as("bins_candidate"),
        col("bins_hit"), col("rows_match"))
  }

  /** DuckDB twin of [[zReport]] — generated from the same G/box constants
    * so the two engines cannot drift independently. */
  def reportOracleSql: String = {
    val binX = binSqlExpr("x", "xmin", "xmax")
    val binY = binSqlExpr("y", "ymin", "ymax")
    val bxClampLo = binSqlExpr(s"GREATEST(xmin, $CustLo)", "xmin", "xmax")
    val bxClampHi = binSqlExpr(s"LEAST(xmax, $CustHi)", "xmin", "xmax")
    val byClampLo = binSqlExpr(s"GREATEST(ymin, $DayLo)", "ymin", "ymax")
    val byClampHi = binSqlExpr(s"LEAST(ymax, $DayHi)", "ymin", "ymax")
    s"""WITH d AS MATERIALIZED (
       |  SELECT o_custkey AS x,
       |    epoch_ns(o_orderdate) // 1000 // $DayUs AS y FROM orders),
       |b AS MATERIALIZED (
       |  SELECT min(x) AS xmin, max(x) AS xmax,
       |         min(y) AS ymin, max(y) AS ymax FROM d),
       |z AS MATERIALIZED (
       |  SELECT x, y, ${mortonSqlTerms(binX, binY)} AS zbin FROM d, b),
       |tot AS (SELECT count(DISTINCT zbin) AS bins_total FROM z),
       |hit AS (SELECT count(DISTINCT zbin) AS bins_hit,
       |               count(*) AS rows_match FROM z
       |        WHERE x BETWEEN $CustLo AND $CustHi
       |          AND y BETWEEN $DayLo AND $DayHi),
       |cand AS (SELECT CAST(CASE
       |    WHEN $CustLo > xmax OR $CustHi < xmin
       |      OR $DayLo > ymax OR $DayHi < ymin THEN 0
       |    ELSE ($bxClampHi - $bxClampLo + 1) * ($byClampHi - $byClampLo + 1)
       |  END AS BIGINT) AS bins_candidate FROM b)
       |SELECT bins_total, bins_candidate, bins_hit, rows_match
       |FROM tot, cand, hit""".stripMargin
  }

  /** DuckDB twin of [[zScan]] — the PLAIN box query (the layout must be
    * invisible in the answer). */
  def scanOracleSql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |    AS total_c
       |FROM orders
       |WHERE o_custkey BETWEEN $CustLo AND $CustHi
       |  AND epoch_ns(o_orderdate) // 1000 // $DayUs
       |    BETWEEN $DayLo AND $DayHi
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -----------------------------------------------------------------------
  // MANIFEST form (VERDICT r12 item 3): G=8 (a 256×256 grid, 65 536 cells
  // — far past what a directory per bin survives), zbin as a DATA column,
  // files grouped by exact integer math fid = zbin div cellsPerFid, and a
  // per-file (zbin_min, zbin_max) MANIFEST collected at write. A box query
  // decomposes into closed-form morton ranges (quadtree z-decomposition —
  // the BIGMIN/LITMAX contract: O(G·perimeter) ranges, never a cell
  // enumeration), intersects them against the manifest on the driver, and
  // hands Spark the surviving FILE LIST — the Delta/Iceberg data-skipping
  // move on plain parquet. The exact box predicate re-applies on the
  // survivors, so the answer is layout-invisible and the oracle stays the
  // plain scan.
  // -----------------------------------------------------------------------

  /** Manifest-form bits per dimension (2^GM × 2^GM grid). */
  val GM = 8

  /** Target file groups: fid = zbin div CellsPerFid, one write task per
    * fid. 64 groups of 1 024 consecutive morton cells each. */
  val FilesM = 64

  val CellsPerFid: Long = (1L << (2 * GM)) / FilesM

  /** [[bin]] at g bits. */
  def binG(g: Int, v: Long, lo: Long, hi: Long): Long =
    ((v - lo) * (1L << g)) / (hi - lo + 1)

  /** [[morton]] at g bits. */
  def mortonG(g: Int, bx: Long, by: Long): Long =
    (0 until g).map { i =>
      (((bx >> i) & 1L) << (2 * i + 1)) | (((by >> i) & 1L) << (2 * i))
    }.foldLeft(0L)(_ | _)

  private def mortonColG(g: Int, bx: Column, by: Column): Column =
    (0 until g).map { i =>
      shiftleft(shiftright(bx, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(by, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** Closed-form z-range decomposition of the bin box [bxLo..bxHi] ×
    * [byLo..byHi] at g bits: recursive quadrant split — a quadrant fully
    * inside the box contributes its whole CONTIGUOUS morton run (an
    * aligned 2^s × 2^s square spans exactly 4^s consecutive codes), a
    * disjoint quadrant contributes nothing, a straddling one recurses.
    * O(4g · perimeter) ranges before the final adjacent-merge; the cell
    * set covered is EXACTLY the box (PruningSpec cross-checks against
    * brute-force enumeration), so manifest pruning stays answer-exact. */
  def zRangesG(g: Int, bxLo: Long, bxHi: Long,
               byLo: Long, byHi: Long): Seq[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    def rec(x0: Long, y0: Long, s: Int, base: Long): Unit = {
      val (x1, y1) = (x0 + (1L << s) - 1, y0 + (1L << s) - 1)
      if (x0 > bxHi || x1 < bxLo || y0 > byHi || y1 < byLo) ()
      else if (x0 >= bxLo && x1 <= bxHi && y0 >= byLo && y1 <= byHi)
        out += (base -> (base + (1L << (2 * s)) - 1))
      else {
        val h = 1L << (s - 1); val q = 1L << (2 * (s - 1))
        // z-order quadrant visit order: (y-low,x-low)=0, (y-high)=+q? —
        // bit layout here is x at odd positions, y at even, so within a
        // square the code orders (x-bit, y-bit) as (0,0),(0,1),(1,0),(1,1)
        rec(x0, y0, s - 1, base)
        rec(x0, y0 + h, s - 1, base + q)
        rec(x0 + h, y0, s - 1, base + 2 * q)
        rec(x0 + h, y0 + h, s - 1, base + 3 * q)
      }
    }
    if (bxLo > bxHi || byLo > byHi) Seq.empty
    else {
      rec(0L, 0L, g, 0L)
      // merge adjacent runs (quadrant recursion emits them in morton
      // order, so one linear pass suffices)
      out.result().foldLeft(Vector.empty[(Long, Long)]) {
        case (acc, (lo, hi)) => acc.lastOption match {
          case Some((plo, phi)) if lo == phi + 1 => acc.init :+ (plo -> hi)
          case _ => acc :+ (lo -> hi)
        }
      }
    }
  }

  /** The manifest layout: write path + per-file (path, zbin_min, zbin_max)
    * + bounds, built once per (JVM, dir). One bounds agg, one clustered
    * write (repartition on the EXACT-math fid — deterministic, never a
    * sampled range exchange), one manifest scan (`_metadata.file_path`
    * min/max — the stats collection a table format does in its commit
    * protocol). At 100 TB the manifest is one small table (files × 3
    * columns) and everything else is per-file-group parallel. */
  final case class ZManifest(path: String,
                             files: Seq[(String, Long, Long)],
                             bounds: ZBounds)

  def manifestLayout(spark: SparkSession, dir: String): ZManifest =
    graft.Memo.get(spark, "zorder-manifest", dir) {
      val o = Tables.load(spark, dir, "orders")
        .withColumn("zday", expr(zdayExpr))
      val r = o.agg(
        min("o_custkey"), max("o_custkey"), min("zday"), max("zday")).head()
      val b = ZBounds(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // Integer `div` has no Column-API operator — expr() like the G=3
      // form (operands non-negative here, so div ≡ DuckDB //).
      def binCol(vSql: String, lo: Long, hi: Long): Column =
        expr(s"((($vSql) - ($lo)) * ${1L << GM}) div ${hi - lo + 1}")
      val binned = o.withColumn("zbin",
          when(col("o_custkey").isNull || col("zday").isNull, lit(-1L))
            .otherwise(mortonColG(GM,
              binCol("o_custkey", b.xmin, b.xmax),
              binCol("zday", b.ymin, b.ymax))))
        .withColumn("fid",
          when(col("zbin") === -1L, lit(-1L))
            .otherwise(expr(s"zbin div $CellsPerFid")))
        .drop("zday")
      val out = graft.Scratch.dir("graft-zmanifest",
        java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(12))
      // Exact fid→partition assignment (ADVICE r13): repartition(n, fid)
      // is HASH partitioning — distinct fids collide into one file and a
      // file then spans distant morton intervals, gutting pruning. A
      // sampled range exchange (repartitionByRange) would fix locality
      // but is nondeterministic run-to-run; the layout must be stable
      // (PruningSpec + SCALING read kept-file counts). fid is already
      // the partition id by construction (-1..FilesM-1), so assign it
      // DIRECTLY with an explicit Partitioner — the one RDD hop in this
      // repo, justified because the DataFrame API offers only hash or
      // sampled-range assignment. One-time index-build write; the
      // serving path stays pure DataFrame.
      val rowSchema = binned.schema
      val placed = binned.rdd
        .keyBy(_.getAs[Long]("fid"))
        .partitionBy(new org.apache.spark.Partitioner {
          def numPartitions: Int = FilesM + 1
          def getPartition(key: Any): Int =
            (key.asInstanceOf[Long] + 1L).toInt
        })
        .values
      spark.createDataFrame(placed, rowSchema)
        .sortWithinPartitions("zbin")
        .drop("fid")
        .write.mode("overwrite").parquet(out)
      val manifest = spark.read.parquet(out)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min("zbin").as("zmin"), max("zbin").as("zmax"))
        .collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
        .toSeq.sortBy(_._1)
      ZManifest(out, manifest, b)
    }

  /** Candidate morton ranges of the pinned box at GM bits (clamped bin
    * rectangle → z-decomposition), plus the reserved null-bin range. */
  def manifestCandidateRanges(b: ZBounds): Seq[(Long, Long)] = {
    val disjoint = CustLo > b.xmax || CustHi < b.xmin ||
      DayLo > b.ymax || DayHi < b.ymin
    val boxRanges =
      if (disjoint) Seq.empty
      else zRangesG(GM,
        binG(GM, math.max(CustLo, b.xmin), b.xmin, b.xmax),
        binG(GM, math.min(CustHi, b.xmax), b.xmin, b.xmax),
        binG(GM, math.max(DayLo, b.ymin), b.ymin, b.ymax),
        binG(GM, math.min(DayHi, b.ymax), b.ymin, b.ymax))
    (-1L, -1L) +: boxRanges
  }

  /** The box query through MANIFEST pruning: intersect the candidate
    * ranges with each file's (zmin, zmax) on the driver — pure interval
    * math over the small manifest — and scan ONLY the surviving files;
    * the exact box predicate re-applies on the survivors. Result ≡ plain
    * scan (the same oracle as [[zScan]]). */
  def zScanManifest(spark: SparkSession, dir: String): DataFrame = {
    val m = manifestLayout(spark, dir)
    val ranges = manifestCandidateRanges(m.bounds)
    val kept = m.files.collect {
      case (f, zmin, zmax)
        if ranges.exists { case (lo, hi) => lo <= zmax && zmin <= hi } => f
    }
    val scan =
      if (kept.isEmpty) spark.read.parquet(m.path).filter(lit(false))
      else spark.read.parquet(kept: _*)
    boxFilter(scan)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_c"))
      .orderBy("o_orderpriority")
  }

  /** Manifest-pruning accounting (spec + probe surface, not an oracle
    * row: file composition is a physical-layout fact no SQL twin can
    * recompute): (files_total, files_read, ranges). */
  private[graft] def manifestPruneStats(
      spark: SparkSession, dir: String): (Int, Int, Int) = {
    val m = manifestLayout(spark, dir)
    val ranges = manifestCandidateRanges(m.bounds)
    val kept = m.files.count { case (_, zmin, zmax) =>
      ranges.exists { case (lo, hi) => lo <= zmax && zmin <= hi }
    }
    (m.files.size, kept, ranges.size)
  }
}
