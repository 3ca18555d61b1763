package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters fed by listeners registered from outside the
  * library: Spark's scheduler events and the SQL QueryExecution
  * tracker. Every field only grows; callers take [[Counters.Snap]]s at
  * op boundaries and subtract. */
final class Counters {
  val jobs, jobMs, tasks, taskMs, taskCpuNs, shuffleRead, shuffleWrite,
    spill, analysisMs, optimizeMs, planningMs = new LongAdder

  def snap(): Counters.Snap = Counters.Snap(Vector(
    jobs, jobMs, tasks, taskMs, taskCpuNs, shuffleRead, shuffleWrite,
    spill, analysisMs, optimizeMs, planningMs)
    .map(_.sum()) :+ Counters.gcMs())
}

object Counters {
  val Names: Vector[String] = Vector("jobs", "job_ms", "tasks", "task_ms",
    "task_cpu_ns", "shuffle_read_b", "shuffle_write_b", "spill_b",
    "analysis_ms", "optimize_ms", "planning_ms", "gc_ms")

  final case class Snap(v: Vector[Long]) {
    def -(o: Snap): Snap = Snap(v.zip(o.v).map { case (a, b) => a - b })
    def apply(name: String): Long = v(Names.indexOf(name))
    def json: String =
      Names.zip(v).map { case (n, x) => s""""$n":$x""" }.mkString("{", ",", "}")
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Live heap: used heap after a full collection, once collections
    * stop freeing more. Spark's ContextCleaner drops broadcast, shuffle
    * and RDD state on its own thread only after a collection finds
    * their handles unreachable, so one collection leaves a
    * timing-dependent share of it; collect, give the cleaner time,
    * and repeat until two readings agree. */
  def heapLiveMb(): Double = {
    def read(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val readings = scala.collection.mutable.ArrayBuffer(read())
    while (readings.size < 8 && (readings.size < 2 ||
        math.abs(readings.last - readings(readings.size - 2)) >= 1.0)) {
      Thread.sleep(250)
      readings += read()
    }
    System.err.println("[perfbench] live heap readings " +
      readings.map(x => f"$x%.1f").mkString(", ") + " MB")
    readings.min
  }

  def register(spark: SparkSession): Counters = {
    val c = new Counters
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        c.jobs.increment(); jobStarts.put(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach(t => c.jobMs.add(e.time - t))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c.tasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs.add(m.executorRunTime)
          c.taskCpuNs.add(m.executorCpuTime)
          c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        ph.get("analysis").foreach(p => c.analysisMs.add(p.durationMs))
        ph.get("optimization").foreach(p => c.optimizeMs.add(p.durationMs))
        ph.get("planning").foreach(p => c.planningMs.add(p.durationMs))
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    c
  }
}

/** Spans recorded by the benchmark's own code around each call into a
  * layer. A span's layer is its name up to the first dot. Kept in
  * memory and written as JSONL when the run ends. Off in untraced runs:
  * no listener is registered, [[Trace.span]] is a plain call, and the
  * engine counters stay 0. */
final class Trace(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long, counters: Option[Counters.Snap])

  val counters: Counters = if (on) Counters.register(spark) else new Counters
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opId = new ThreadLocal[Long] { override def initialValue = 0L }

  /** Engine counters after draining the listener bus. */
  def snap(): Counters.Snap = {
    if (on) PerfbenchBus.drain(spark.sparkContext)
    counters.snap()
  }

  /** Start a new op: spans opened on this thread until the next call
    * carry its id. */
  def newOp(): Long = { val id = ids.incrementAndGet(); opId.set(id); id }

  /** Time `f` as span `name`; with `withCounters`, also record the
    * engine-counter delta over the span (drains the listener bus at both
    * ends, so use it on closed-loop ops only). */
  def span[A](name: String, withCounters: Boolean = false)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val c0 = if (withCounters) Some(snap()) else None
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), opId.get, name,
          t0, t1, c0.map(c => snap() - c)))
      }
    }

  /** Record an already-timed interval (e.g. a request timed on a client
    * thread from its due time). */
  def record(name: String, startNs: Long, endNs: Long, op: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, op, name, startNs,
      endNs, None))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Span duration minus the union of its children's intervals. */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  def writeJsonl(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val self = selfNs
    val base = if (spans.isEmpty) 0L else all.map(_.startNs).min
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val layer = s.name.takeWhile(_ != '.')
      val cs = s.counters.map(c => s""","counters":${c.json}""").getOrElse("")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","layer":"$layer",""" +
        s""""start_us":${(s.startNs - base) / 1000},""" +
        s""""end_us":${(s.endNs - base) / 1000},""" +
        s""""self_us":${self(s.id) / 1000}$cs}""")
    } finally w.close()
  }
}
