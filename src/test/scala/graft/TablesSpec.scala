package graft

import org.apache.spark.sql.types.{LongType, TimestampType}

/** The declared-schema reader: every table reads with one fixed schema,
  * whatever the session read before, and reading writes no session conf. */
class TablesSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ messages(x.getCause))

  test("loading every table and the event stream leaves the session conf unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.names.foreach(t => Tables.load(s, sf, t).schema)
    streaming.EventStreams.eventStream(s, sf).schema
    assert(s.conf.getAll == before)
  }

  test("o_orderdate, l_shipdate and ts are TimestampType before and after an events load") {
    val s = spark.newSession()
    def dates = Seq(
      Tables.load(s, sf, "orders").schema("o_orderdate").dataType,
      Tables.load(s, sf, "lineitem").schema("l_shipdate").dataType)
    val before = dates
    val ts = Tables.load(s, sf, "events").schema("ts").dataType
    val after = dates
    assert((before :+ ts) ++ after == Seq.fill(5)(TimestampType))
  }

  /** One events file written by parquet-hadoop with `ts` as INT64
    * TIMESTAMP(unit, isAdjustedToUTC = false). */
  private def writeEvents(dir: String, unit: String, ts: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    val str = LogicalTypeAnnotation.stringType()
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.valueOf(unit))).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(str).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(str).named("props")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", t)
        .append("user_id", 7L).append("event_type", "view")
        .append("value", 1.0).append("props", "{}"))
    } finally w.close()
  }

  test("a TIMESTAMP(NANOS) events file reads to its micros twin's instants with no session conf") {
    val micros = Seq(
      java.time.Instant.parse("2024-05-01T10:00:00.123456Z"),
      java.time.Instant.parse("1999-12-31T23:59:59.999999Z"))
      .map(i => i.getEpochSecond * 1000000L + i.getNano / 1000)
    val (nanosDir, microsDir) = (tmpDir("graft-ts-nanos"), tmpDir("graft-ts-micros"))
    // Sub-microsecond digits are truncated, never rounded.
    writeEvents(nanosDir, "NANOS", micros.map(_ * 1000L + 999L))
    writeEvents(microsDir, "MICROS", micros)
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(Tables.schema(s, nanosDir, "events")("ts").dataType == LongType)
    assert(Tables.schema(s, microsDir, "events")("ts").dataType == TimestampType)
    def read(d: String) = Tables.load(s, d, "events")
      .selectExpr("event_id", "ts", "unix_micros(ts)").collect().map(_.toSeq).toSeq
    val fromNanos = read(nanosDir)
    assert(Tables.load(s, nanosDir, "events").schema("ts").dataType == TimestampType)
    assert(fromNanos == read(microsDir))
    assert(fromNanos.map(_(2)) == micros)
    assert(s.conf.getAll == before)
  }

  test("a table file with an incompatible column type fails loudly") {
    import spark.implicits._
    val d = tmpDir("graft-bad-orders")
    Seq(("not-a-key", 1L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$d/orders.parquet")
    val e = intercept[Exception](Tables.load(spark, d, "orders").collect())
    assert(messages(e).exists(m => m.contains("FAILED_READ_FILE") ||
      m.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH")),
      s"expected a loud parquet type-mismatch failure, got: $e")
  }

  test("a session not in UTC fails loudly") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val e = intercept[IllegalArgumentException](Tables.load(s, sf, "events"))
    assert(e.getMessage.contains("America/Los_Angeles"))
  }
}
