package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Registry, SparkEntry, Tables}
import graft.graph.GraphAlgs
import graft.operators.{Json, Recs}

/** Set-up time by part: each call is one `setup.<name>` span and adds to
  * that part's seconds. */
final class SetupParts(spans: Spans) {
  val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def apply[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try spans.span(s"setup.$name", "setup")(body)
    finally seconds(name) =
      seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** One `/recs` request of the serving workload. */
final case class Req(kind: String, id: Long, arm: String) {
  def path: String = kind match {
    case "product" if arm == "default" => s"/recs?product_id=$id"
    case "product" => s"/recs?product_id=$id&arm=$arm"
    case _ => s"/recs?customer_id=$id"
  }
}

/** The benchmark's JVM side.  `Harness <plan.json>` reads the plan that
  * `perfbench/run.py` writes, sets the program up, runs one measured phase
  * of the plan's workload and writes raw timings, responses, spans and
  * counters to the plan's `out` file.  All metrics are computed from that
  * file by the Python side. */
object Harness {

  /** The registries SparkEntry concatenates, by the name the per-layer
    * metrics use. */
  val registries: Seq[(String, Registry)] = Seq(
    "recs" -> graft.operators.RecsRegistry.registry,
    "relational" -> graft.operators.RelationalRegistry.registry,
    "graph" -> graft.graph.GraphRegistry.registry,
    "text" -> graft.text.TextRegistry.registry,
    "dedup" -> graft.dedup.DedupRegistry.registry,
    "similarity" -> graft.similarity.SimilarityRegistry.registry,
    "streaming" -> graft.streaming.StreamingRegistry.registry,
    "multimodal" -> graft.multimodal.MultimodalRegistry.registry,
    "sources" -> graft.sources.SourcesRegistry.registry,
    "curation" -> graft.pipeline.CurationRegistry.registry)

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new java.io.File(args(0)))
    val out = run(plan)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(plan.get("out").asText), out)
    // Serve's request pool is not a daemon pool; end the JVM explicitly.
    sys.exit(0)
  }

  private def strings(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements.asScala.map(_.asText).toSeq

  private def reqs(n: JsonNode): IndexedSeq[Req] =
    if (n == null) IndexedSeq.empty
    else n.elements.asScala.map(r =>
      Req(r.get("kind").asText, r.get("id").asLong, r.get("arm").asText))
      .toIndexedSeq

  private def ms(ns: Long): Double = ns / 1e6

  def run(plan: JsonNode): Map[String, Any] = {
    val workload = plan.get("workload").asText
    val dir = plan.get("data_dir").asText
    val work = plan.get("work_dir").asText
    val trace = plan.get("trace").asBoolean
    val seconds = plan.get("seconds").asDouble
    val cores = plan.get("cores").asInt
    val rows = strings(plan.get("rows"))
    val requests = reqs(plan.get("requests"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(trace)
    val part = new SetupParts(spans)

    val setupT0 = System.nanoTime()
    var spark: SparkSession = null
    var server: com.sun.net.httpserver.HttpServer = null
    var counters: Counters = null
    spans.span("setup", "setup") {
      spark = part("session") {
        val s = SparkSession.builder()
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        // The same untimed warm-up graft.Bench runs before its first row.
        s.range(1000000L).selectExpr("sum(id)").collect()
        SparkEntry.queries.get("health").foreach(_(s, dir).count())
        s
      }
      // The serving workload registers its counters after the HTTP phase,
      // which is timed untraced.
      if (trace && workload != "recs_serve") counters = Counters.register(spark)
      prewarm(spark, dir, rows.toSet, part)
      if (workload == "recs_serve") {
        server = part("etl") {
          val srv = graft.Serve.start(spark, dir, 0)
          val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
          Seq("/health", "/etl").foreach { p =>
            val (status, body, _) = Http.get(base + p)
            require(status == 200 && body.contains("true"),
              s"$p answered $status $body")
          }
          srv
        }
        part("warmup") {
          closedLoop(reqs(plan.get("warmup")), cores, Double.MaxValue, 1, 0,
            httpCall(server))
        }
      }
    }
    val setupTotalS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val cacheAfterSetup = cacheInfo(spark)
    if (counters != null) Counters.drain(spark)

    val gc0 = gcTotals()
    val fs0 = FsStats.snapshot()
    if (counters != null) counters.measuring = true
    val measureT0 = System.nanoTime()
    val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    workload match {
      case "recs_serve" =>
        // One client thread per core: Serve's pool has 4 threads and the
        // host 4 cores.
        val block = plan.get("block").asInt
        val minOps = plan.get("min_blocks").asInt * block
        val http = closedLoop(requests, cores, seconds, block, minOps,
          httpCall(server))
        result("ops") = http._1
        result("measure_s") = http._2
        if (trace) {
          counters = Counters.register(spark)
          counters.measuring = true
          val replay = closedLoop(requests, cores, seconds, block, minOps,
            inProcessCall(spark, dir, spans, counted = true))
          result("replay") = replay._1
          result("replay_s") = replay._2
        }
        server.stop(0)
      case _ =>
        val (ops, kept) = pass(spark, dir, rows, spans)
        result("ops") = ops
        result("measure_s") = (System.nanoTime() - measureT0) / 1e9
        val dump = plan.get("dump_dir").asText
        kept.foreach { case (name, (schema, data)) =>
          spark.createDataFrame(data.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$dump/$name")
        }
    }
    if (counters != null) {
      Counters.drain(spark)
      counters.measuring = false
    }
    val fs1 = FsStats.snapshot()
    val gc1 = gcTotals()
    val heapMb = retainedHeapMb()
    if (workload == "recs_serve") {
      // Serve's handler answers an exception with an empty 200, which is
      // also the right answer for an unknown id.  So each distinct
      // unknown-id request of the window is called once more in-process,
      // untimed and uncounted, where an exception is not swallowed.
      val base = plan.get("unknown_base").asLong
      val unknown = result("ops").asInstanceOf[Seq[Map[String, Any]]]
        .filter(_("id").asInstanceOf[Long] >= base)
        .map(op => Req(op("kind").toString, op("id").asInstanceOf[Long],
          op("arm").toString)).distinct.toIndexedSeq
      result("probes") = closedLoop(unknown, cores, Double.MaxValue, 1, 0,
        inProcessCall(spark, dir, new Spans(false), counted = false))._1
    }

    result ++= Map(
      "setup_s" -> setupTotalS,
      "setup_parts" -> part.seconds.toMap,
      "retained_heap_mb" -> heapMb,
      "gc_ms" -> (gc1._2 - gc0._2),
      "gc_count" -> (gc1._1 - gc0._1),
      "cache_setup" -> cacheAfterSetup,
      "cache_end" -> cacheInfo(spark),
      "fs" -> FsStats.delta(fs0, fs1),
      "row_registry" -> rows.map(r => r -> registries.collectFirst {
        case (name, reg) if reg.queries.contains(r) => name
      }.getOrElse("")).toMap)
    if (trace) {
      result ++= Map(
        "spans" -> spans.all.map(s => Map("id" -> s.id, "name" -> s.name,
          "op" -> s.op, "parent" -> s.parent, "start_ms" -> ms(s.startNs - setupT0),
          "end_ms" -> ms(s.endNs - setupT0))),
        "spark_by_op" -> counters.byOp,
        "sql" -> counters.sql,
        "listener_ms" -> ms(counters.callbackNs.sum()),
        "tables_load_ms" -> Seq("lineitem", "orders", "part", "events").map { t =>
          val samples = (1 to 7).map { _ =>
            val t0 = System.nanoTime(); Tables.load(spark, dir, t)
            ms(System.nanoTime() - t0)
          }.sorted
          t -> samples(samples.size / 2)
        }.toMap)
    }
    spark.stop()
    result.toMap
  }

  /** The prewarm gate of graft.Bench: each family is warmed only when the
    * workload's rows touch its registry, and each call is timed into its
    * own set-up part. */
  private def prewarm(spark: SparkSession, dir: String, selected: Set[String],
                      part: SetupParts): Unit = {
    def touches(name: String): Boolean = registries.exists {
      case (n, reg) => n == name && selected.exists(reg.queries.keySet)
    }
    if (touches("graph")) part("graph") {
      GraphAlgs.prewarm(spark, dir,
        kernels = selected.exists(GraphAlgs.KernelServedRows))
    }
    if (touches("similarity") || touches("curation")) part("similarity") {
      graft.similarity.Similarity.prewarm(spark, dir)
    }
    if (touches("recs")) part("recs")(Recs.prewarm(spark, dir))
    if (touches("streaming")) part("streaming") {
      graft.streaming.EventStreams.prewarm(spark, dir)
    }
  }

  /** One sequential pass over registry rows.  Each row's whole result is
    * collected inside the timed window; the rows are kept for the
    * correctness dump, which runs after the window. */
  private def pass(spark: SparkSession, dir: String, rows: Seq[String],
                   spans: Spans)
      : (Seq[Map[String, Any]], Seq[(String, (org.apache.spark.sql.types.StructType, Array[Row]))]) = {
    val sc = spark.sparkContext
    val kept = Seq.newBuilder[(String, (org.apache.spark.sql.types.StructType, Array[Row]))]
    val ops = rows.map { name =>
      sc.setLocalProperty(Counters.OpProperty, name)
      val t0 = System.nanoTime()
      var buildNs = 0L
      val outcome =
        try spans.span("row", name) {
          val df = spans.span("build", name)(SparkEntry.queries(name)(spark, dir))
          buildNs = System.nanoTime() - t0
          val data = spans.span("action", name)(df.collect())
          kept += name -> (df.schema, data)
          Right(data.length)
        } catch { case NonFatal(e) => Left(e.toString) }
      val totalNs = System.nanoTime() - t0
      sc.setLocalProperty(Counters.OpProperty, null)
      Map("name" -> name, "ms" -> ms(totalNs), "build_ms" -> ms(buildNs),
        "action_ms" -> ms(totalNs - buildNs),
        "ok" -> outcome.isRight,
        "rows" -> outcome.getOrElse(-1),
        "error" -> outcome.left.getOrElse(null))
    }
    (ops, kept.result())
  }

  /** A call of [[serveInProcess]] as a closed-loop client makes it: a
    * `counted` call is one traced operation, with its own span and Spark
    * jobs attributed to it.  An exception is a failed request (status 0). */
  private def inProcessCall(spark: SparkSession, dir: String, spans: Spans,
                            counted: Boolean): (Int, Req) => Map[String, Any] = {
    val sc = spark.sparkContext
    (i, r) => {
      val op = s"req-$i"
      if (counted) sc.setLocalProperty(Counters.OpProperty, op)
      val t0 = System.nanoTime()
      val (ok, body) =
        try (true, spans.span("request", op)(serveInProcess(spark, dir, r, spans, op)))
        catch { case NonFatal(e) => (false, e.toString) }
      if (counted) sc.setLocalProperty(Counters.OpProperty, null)
      Map("status" -> (if (ok) 200 else 0), "body" -> body,
        "ms" -> ms(System.nanoTime() - t0))
    }
  }

  /** The `/recs` handler's arm logic (graft.Serve), called in-process so
    * that each arm's builder and render get their own spans and the
    * Spark jobs carry the request's operation id. */
  private def serveInProcess(spark: SparkSession, dir: String, r: Req,
                             spans: Spans, op: String): String = {
    def arm(name: String)(build: => DataFrame): String = {
      val df = spans.span(s"build.$name", op)(build)
      spans.span(s"render.$name", op)(Json.toItemsArray(df))
    }
    if (r.kind == "product") {
      val armItems = r.arm match {
        case "item" => arm("item")(GraphAlgs.itemItemServing(spark, dir, r.id))
        case "rrf" => arm("rrf")(Recs.rrfServing(spark, dir, r.id))
        case _ => "[]"
      }
      if (armItems != "[]") armItems
      else arm("product")(Recs.recsForProduct(spark, dir, r.id))
    } else arm("customer")(Recs.recsForCustomer(spark, dir, r.id))
  }

  private def httpCall(server: com.sun.net.httpserver.HttpServer)
      : (Int, Req) => Map[String, Any] = {
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    (_, r) => {
      val (status, body, ns) = Http.get(base + r.path)
      Map("status" -> status, "body" -> body, "ms" -> ms(ns))
    }
  }

  /** A closed loop: `clients` threads each take the next request of the
    * list and send it only after their previous one answered.  Once
    * `seconds` have passed and at least `minOps` requests were taken, no
    * request past the end of the current block of `block` requests is
    * taken, so the window always holds whole blocks of the mix; with an
    * unbounded time the list is served once.  Returns one record per
    * request and the wall time. */
  private def closedLoop(list: IndexedSeq[Req], clients: Int, seconds: Double,
                         block: Int, minOps: Int,
                         call: (Int, Req) => Map[String, Any])
      : (Seq[Map[String, Any]], Double) = {
    val next = new AtomicInteger()
    val stopAt = new AtomicInteger(
      if (seconds == Double.MaxValue) list.size else Int.MaxValue)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val t0 = System.nanoTime()
    val deadline = t0 + math.min(seconds * 1e9, Long.MaxValue / 2.0).toLong
    val pool = Executors.newFixedThreadPool(clients)
    (1 to clients).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          def open: Boolean = {
            if (i >= minOps && System.nanoTime() >= deadline)
              stopAt.accumulateAndGet((i + block - 1) / block * block, math.min)
            i < stopAt.get
          }
          while (open) {
            val r = list(i % list.size)
            val start = System.nanoTime()
            val rec =
              try call(i, r)
              catch { case NonFatal(e) => Map("status" -> 0, "body" -> e.toString, "ms" -> ms(System.nanoTime() - start)) }
            done.add(rec ++ Map("i" -> i, "kind" -> r.kind, "id" -> r.id,
              "arm" -> r.arm, "start_ms" -> ms(start - t0)))
            i = next.getAndIncrement()
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    (done.asScala.toSeq.sortBy(_("i").asInstanceOf[Int]),
      (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after full collections.  Spark's ContextCleaner frees
    * shuffle and broadcast state only once a collection has cleared the
    * weak references to it, so collect until the reading stops falling. */
  private def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var next = used()
    var rounds = 2
    while (next < last && rounds < 8) { last = next; next = used(); rounds += 1 }
    math.min(last, next) / (1024.0 * 1024.0)
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount.max(0L)).sum,
      beans.map(_.getCollectionTime.max(0L)).sum)
  }

  private def cacheInfo(spark: SparkSession): Map[String, Any] = {
    val info = spark.sparkContext.getRDDStorageInfo
    Map("rdds" -> info.length,
      "mem_mb" -> info.map(_.memSize).sum / (1024.0 * 1024.0),
      "disk_mb" -> info.map(_.diskSize).sum / (1024.0 * 1024.0))
  }
}

/** A blocking HTTP/1.1 GET over a shared keep-alive client. */
object Http {
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()

  def get(url: String): (Int, String, Long) = {
    val t0 = System.nanoTime()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body, System.nanoTime() - t0)
  }
}
