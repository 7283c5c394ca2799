package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}
import scala.collection.immutable.ListMap
import scala.util.{Failure, Success, Try}

/** Parquet table readers over the driver testdata (SURVEY.md §2.1 S1/S2).
  *
  * The reference extracts six Postgres tables with plain `SELECT`s against
  * a fixed DDL (reference `postgres/init/01_schema.sql:1-39`,
  * `app/etl.py:141-164`). Here every table has one DECLARED schema — the
  * types all three testdata scales and `perfbench/bench/datagen.py` write —
  * and every read is `spark.read.schema(declared).parquet(...)`: no footer
  * inference per call, and no session conf steering it, so a column's type
  * never depends on what the session read before. The scan is
  * [[graft.sources.Formats.readParquetDeclared]], with its drift posture:
  * a missing column reads as null, a widening type is upcast, an
  * incompatible type fails the scan loudly.
  *
  * The one per-directory decision is the physical encoding of `events.ts`,
  * which has shipped both as micros (declared `TimestampType`) and as
  * `TIMESTAMP(NANOS)` (declared `LongType`, truncated to micros by
  * [[normalizeTs]]). It is read from one parquet footer, with no Spark job,
  * once per directory version.
  *
  * Each table is still a parquet scan whose projection and predicates
  * Catalyst pushes into the file reader, so the "extract" step dissolves
  * into the query plans themselves; at 100 TB the same call reads a
  * partitioned layout with no code change.
  */
object Tables {
  private val declared: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    // c_join_date is the reference's customers.join_date
    // (01_schema.sql): the seed fixture carries it, the TPC-H-shaped
    // testdata does not, so there it reads as null.
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING, c_join_date DATE"),
    "supplier" ->
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" ->
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (n, ddl) => n -> StructType.fromDDL(ddl) }

  val names: Seq[String] = declared.keys.toSeq

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.sources.Formats.readParquetDeclared(spark,
      schema(spark, dir, name), s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** The declared schema of `name` as stored under `dir`: fixed, except
    * that `events.ts` is `LongType` when the file stores TIMESTAMP(NANOS). */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val s = declared(name)
    if (name == "events" && eventsTsIsNanos(spark, dir))
      StructType(s.map(f => if (f.name == "ts") f.copy(dataType = LongType) else f))
    else s
  }

  /** Truncates a `LongType` nanosecond `ts` to an instant TIMESTAMP with
    * integer division (the ns epoch exceeds 2^53, so double math would
    * corrupt it) — shared by the batch reader above and the streaming
    * file source (EventStreams.eventStream). Event-time math (`window`,
    * `date_trunc`, hour-of-day) reads the session zone, so a session not
    * in UTC fails here instead of shifting every event by its offset. */
  def normalizeTs(df: DataFrame): DataFrame = {
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
      s"graft reads event time in UTC; this session's time zone is $tz")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Column names the parquet footer of `dir/name` declares (one footer
    * read, no Spark job; empty when the path holds no parquet file). For
    * callers that must know what the FILE carries, not what the declared
    * read null-fills. */
  def fileColumns(spark: SparkSession, dir: String, name: String): Set[String] =
    footer(spark, s"$dir/$name.parquet").map { m =>
      (0 until m.getFieldCount).map(m.getFieldName).toSet
    }.getOrElse(Set.empty)

  private val tsNanos =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]()

  private def eventsTsIsNanos(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Keyed by modification time: a rewritten directory resolves afresh.
    val version = Try(fs.getFileStatus(p).getModificationTime).getOrElse(-1L)
    tsNanos.computeIfAbsent((p.toString, version), _ =>
      footer(spark, p.toString).exists { m =>
        m.containsField("ts") &&
          (m.getType(m.getFieldIndex("ts")).getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          })
      })
  }

  /** The footer schema of the parquet file at `path`, or of the first data
    * file when `path` is a directory. None when there is no such file —
    * the scan itself then reports the missing path. */
  private def footer(spark: SparkSession, path: String): Option[MessageType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      if (st.isFile) Some(st)
      else fs.listStatus(p).sortBy(_.getPath.getName).find { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    }.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
  }

  /** S2: error-tolerant scan (reference `app/etl.py:132-139` `safe_fetch`
    * returns `[]` on failure). Missing/corrupt source → empty DataFrame of
    * the given schema, with a logged warning — the query keeps running.
    */
  def loadSafe(spark: SparkSession, dir: String, name: String,
               schema: StructType): DataFrame =
    Try(spark.read.schema(schema).parquet(s"$dir/$name.parquet")) match {
      case Success(df) => df
      case Failure(e) =>
        System.err.println(s"[graft] source $name unavailable, " +
          s"substituting empty relation: ${e.getMessage}")
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** S7: liveness smoke (reference `SELECT 1` / `RETURN 1`,
    * `app/etl.py:46-47,65`). */
  def healthProbe(spark: SparkSession): DataFrame =
    spark.range(1).toDF("ok")

  /** Round-robin spread for CPU-heavy derivations over unsplittable
    * inputs. A single-row-group parquet file hands the WHOLE scan to one
    * task, and whole-stage codegen then fuses every narrow step —
    * tokenize, hash, explode, partial aggregation — into that one task:
    * a 32-core host runs the entire map side serially (measured 3-10× on
    * the co-purchase and SimHash families when the testdata arrived
    * re-encoded as one row group per table). The explicit partition
    * count keeps AQE from coalescing the spread away; the gate keeps
    * this a no-op precisely when it would hurt — at warehouse scale the
    * source arrives as many files/row-groups, the scan already has ≥
    * parallelism partitions, and no extra shuffle is added.
    *
    * PRECONDITION: call this on scan-level frames only (a scan plus
    * narrow projections/filters). The gate reads df.rdd.getNumPartitions,
    * and under AQE that finalizes the physical plan — on a frame with
    * upstream exchanges it would execute those shuffle stages just to
    * count partitions, and the real action would then re-run them
    * (exchange reuse does not span separate actions). */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
