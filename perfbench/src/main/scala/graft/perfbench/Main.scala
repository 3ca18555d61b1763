package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, a private
  * work directory inside the benchmark checkout, the seed, a stamp of
  * the built sources, and the pass/fail tally every output check
  * feeds. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: File,
    val seed: Long, val seconds: Int, val cpus: Int, val build: String) {
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)

  /** Count one op; a false check counts it as failed and logs why. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failed.incrementAndGet()
      if (failed.get() <= 20) System.err.println(s"[perfbench] check failed: $what")
    }
    ok
  }

  /** Run one op, counting it attempted, and failed if it throws. */
  def op[A](what: String)(f: => A): Option[A] = {
    attempted.incrementAndGet()
    try Some(f)
    catch {
      case scala.util.control.NonFatal(e) =>
        check(ok = false, s"$what threw $e")
        None
    }
  }

  def dir(name: String): String = {
    val d = new File(work, name); d.mkdirs(); d.getAbsolutePath
  }
}

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

trait Workload {
  /** Write the seeded inputs (untimed: making inputs is the
    * benchmark's work, not the program's). */
  def prepare(ctx: Ctx): Unit
  /** The cold set-up on fresh directories; setup_s times it. */
  def setup(ctx: Ctx): Unit
  /** The measured loop: returns the end-to-end metrics proper to this
    * workload (setup_s and heap_live_mb are added by [[Main]]) and the
    * per-layer metrics it can measure. */
  def run(ctx: Ctx): (Seq[Metric], Seq[Metric])
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (level, value); the median when there are fewer than 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (0.5, median(xs)) else ((n - 10).toDouble / n, s(n - 11))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Benchmark entry point:
  * `Main --workload <serve|fold> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir> --trace-out <file> --build <stamp>`.
  * Prints one JSON result line last on stdout. */
object Main {
  /** The per-layer metrics a traced run prints, with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.parse_us" -> "us", "api.serialize_us" -> "us", "api.batch_size" -> "requests",
    "api.jobs_per_request" -> "count", "api.job_ms" -> "ms", "api.tail_ms" -> "ms",
    "api.generator_lag_ms" -> "ms", "api.backlog_growth" -> "requests",
    "cube.serving_extract_ms" -> "ms", "cube.cells_per_selection" -> "cells",
    "pipeline.curate_batch_ms" -> "ms", "pipeline.ann_append_ms" -> "ms",
    "pipeline.ann_search_ms" -> "ms", "pipeline.index_read_ms" -> "ms",
    "pipeline.takedown_ms" -> "ms",
    "pipeline.compact_ms" -> "ms", "pipeline.dup_ratio" -> "ratio",
    "sources.bytes_written_mb" -> "MB", "sources.index_files" -> "files",
    "sources.index_mb_per_input_mb" -> "ratio",
    "spark.analysis_ms" -> "ms", "spark.optimize_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.heap_live_mb" -> "MB",
    "trace.p50_ms" -> "ms", "trace.rate_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val w: Workload = workload match {
      case "serve" => new Serve
      case "fold" => new Fold
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // HttpApi refuses a session without FAIR scheduling
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try {
      val ctx = new Ctx(spark, new Trace(spark, traced), work, seed, seconds, cpus,
        opts("build"))
      val tp = System.nanoTime()
      w.prepare(ctx)
      val t0 = System.nanoTime()
      w.setup(ctx)
      val setupS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] session $sessionS%.2f s, inputs ${(t0 - tp) / 1e9}%.2f s, " +
        f"set-up $setupS%.2f s")
      val tr = System.nanoTime()
      val (e2e, layers) = w.run(ctx)
      val heap = Counters.heapLiveMb()
      System.err.println(f"[perfbench] run and checks ${(System.nanoTime() - tr) / 1e9}%.2f s")
      if (traced) ctx.trace.writeJsonl(new File(opts("trace-out")))
      val metrics =
        if (!traced) Metric("setup_s", sessionS + setupS, "s") +:
          e2e :+ Metric("heap_live_mb", heap, "MB")
        else {
          // every per-layer metric on every workload: a layer the
          // workload does not reach reads 0; the traced end-to-end
          // numbers, set against an untraced run's, give the overhead
          val got = layers ++ e2e.map(m => m.copy(name = s"trace.${m.name}")) :+
            Metric("jvm.heap_live_mb", heap, "MB")
          PerLayer.map { case (n, u) => got.find(_.name == n).getOrElse(Metric(n, 0.0, u)) }
        }
      val body = metrics.map(m =>
        s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""")
        .mkString(",")
      println(s"""{"correct":${ctx.failed.get() == 0},""" +
        s""""attempted":${ctx.attempted.get()},"failed":${ctx.failed.get()},""" +
        s""""metrics":{$body}}""")
    } finally spark.stop()
  }

  private def fmt(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, "a metric is not a number")
    BigDecimal(d).bigDecimal.toPlainString
  }
}

/** The `spark` layer's per-op numbers from an engine-counter delta over
  * `ops` ops; every workload reports them. */
object Layers {
  def spark(d: Counters.Snap, ops: Int): Seq[Metric] = {
    val n = math.max(1, ops).toDouble
    val mb = 1048576.0
    Seq(
      Metric("spark.analysis_ms", d("analysis_ms") / n, "ms"),
      Metric("spark.optimize_ms", d("optimize_ms") / n, "ms"),
      Metric("spark.planning_ms", d("planning_ms") / n, "ms"),
      Metric("spark.jobs", d("jobs") / n, "count"),
      Metric("spark.tasks", d("tasks") / n, "count"),
      Metric("spark.task_ms", d("task_ms") / n, "ms"),
      Metric("spark.task_cpu_ms", d("task_cpu_ns") / 1e6 / n, "ms"),
      Metric("spark.shuffle_read_mb", d("shuffle_read_b") / mb / n, "MB"),
      Metric("spark.shuffle_write_mb", d("shuffle_write_b") / mb / n, "MB"),
      Metric("spark.spill_mb", d("spill_b") / mb / n, "MB"))
  }
}
