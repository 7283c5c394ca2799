package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary.  `parent` is the id of the
  * enclosing span on the same thread (0 at the top), `op` the operation
  * (request or row) the span belongs to. */
final case class Span(id: Long, name: String, op: String, parent: Long,
                      startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends.  When tracing
  * is off, [[span]] only runs its body. */
final class Spans(enabled: Boolean) {
  private val ids = new AtomicLong()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, op, parent, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Spark-side counts for the traced run.
  *
  * Jobs, stages and tasks are attributed to an operation through the
  * local property [[Counters.OpProperty]], which the harness sets on the
  * thread that calls into the program; work without it (set-up, probes)
  * is not counted.  Catalyst phase times come from the query execution
  * listener and are counted while [[measuring]] is set.  The time spent
  * inside these callbacks is summed into [[callbackNs]], the listener's
  * own cost. */
final class Counters extends SparkListener with QueryExecutionListener {
  @volatile var measuring = false
  val callbackNs = new LongAdder()

  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val perOp = new ConcurrentHashMap[String, ConcurrentHashMap[String, LongAdder]]()
  private val sqlTotals = new ConcurrentHashMap[String, LongAdder]()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.add(System.nanoTime() - t0)
  }

  private def add(op: String, key: String, v: Long): Unit =
    perOp.computeIfAbsent(op, _ => new ConcurrentHashMap[String, LongAdder]())
      .computeIfAbsent(key, _ => new LongAdder()).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Counters.OpProperty)))
    op.foreach { o =>
      jobStart.put(e.jobId, (o, e.time))
      e.stageIds.foreach(s => stageOp.put(s, o))
      add(o, "jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobStart.remove(e.jobId)).foreach { case (o, t0) =>
      add(o, "job_wall_ms", e.time - t0)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    Option(stageOp.remove(info.stageId)).foreach { o =>
      add(o, "stages", 1)
      add(o, "tasks", info.numTasks)
      Option(info.taskMetrics).foreach { m =>
        add(o, "executor_run_ms", m.executorRunTime)
        add(o, "executor_cpu_ms", m.executorCpuTime / 1000000L)
        add(o, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(o, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(o, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = timed(phases(qe))

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = timed(phases(qe))

  private def phases(qe: QueryExecution): Unit = if (measuring) {
    def bump(k: String, v: Long) =
      sqlTotals.computeIfAbsent(k, _ => new LongAdder()).add(v)
    bump("actions", 1)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      bump(s"${p}_ms", ph.get(p).map(_.durationMs).getOrElse(0L))
    }
  }

  def byOp: Map[String, Map[String, Long]] =
    perOp.asScala.map { case (op, m) =>
      op -> m.asScala.map { case (k, v) => k -> v.sum() }.toMap
    }.toMap

  def sql: Map[String, Long] =
    sqlTotals.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

object Counters {
  val OpProperty = "perfbench.op"

  /** Registers a fresh counter set on both Spark listener buses. */
  def register(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Blocks until every event posted so far has reached the listeners.
    * `listenerBus` is private to Spark at compile time but public in
    * bytecode. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, Long.box(30000L))
  }
}

/** File-system counters: Hadoop FileSystem statistics summed over every
  * file system by name, plus Spark's file-index listing counters (the
  * local file system counts bytes but not open or list calls). */
object FsStats {
  def snapshot(): Map[String, Long] = {
    val catalog = org.apache.spark.metrics.source.HiveCatalogMetrics
    val out = scala.collection.mutable.Map[String, Long](
      "filesDiscovered" -> catalog.METRIC_FILES_DISCOVERED.getCount,
      "fileCacheHits" -> catalog.METRIC_FILE_CACHE_HITS.getCount)
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator
      .asScala.foreach { st =>
        st.getLongStatistics.asScala.foreach { s =>
          out(s.getName) = out.getOrElse(s.getName, 0L) + s.getValue
        }
      }
    out.toMap
  }

  def delta(before: Map[String, Long],
            after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}
