package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.{HttpApi, RequestJson, ResponseJson, ServingCoalescer}
import graft.api.Api._
import graft.cube.EventCube

/** `serve`: an open loop of independent map-click users against the
  * HTTP server, timed from each request's due time. Load comes from one
  * process with at most `nproc` sender threads (one connection each).
  * First [[RefRate]] (latency, generator lag, backlog), then `nproc`
  * senders back to back (capacity: completed requests per second). */
final class Serve extends Workload {
  import Serve._

  def prepare(ctx: Ctx): Unit =
    Data.writeEvents(ctx.spark, ctx.dir("events"), ctx.seed, Events)

  private var dir: String = _
  private var server: HttpApi.Server = _

  def setup(ctx: Ctx): Unit = {
    // a corpus path private to the run: the serving cubes are keyed by
    // it, so the set-up builds all twelve cold
    dir = ctx.dir("serve")
    copyTree(new java.io.File(ctx.work, "events/events.parquet"),
      new java.io.File(dir, "events.parquet"))
    server = HttpApi.start(ctx.spark, dir)
    // one request per serving cube, from nproc threads like the load
    val keys = for (d <- Data.Datasets; res <- Resolutions) yield (d, res)
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    try keys.map { case (d, res) =>
      val body = s"""{"resolution":"$res","dataset_id":"$d","variable_id":"value",""" +
        s""""time_range":${timeRange(res, 3, 5)},""" +
        s""""selected_area":{"type":"Point","coordinates":[0.5,0.5]}}"""
      pool.submit(() => client.send(post(server.port, "/timeseries", body),
        HttpResponse.BodyHandlers.ofString()))
    }.foreach { f =>
      val r = f.get()
      require(r.statusCode == 200, s"set-up request failed: ${r.statusCode} ${r.body.take(300)}")
    } finally pool.shutdown()
  }

  def run(ctx: Ctx): (Seq[Metric], Seq[Metric]) = {
    val r = new Random(ctx.seed)
    val port = server.port
    val reqs = requests(r)

    // warm-up at the reference rate, untimed: the set-up leaves most
    // request shapes' code paths cold
    openLoop(ctx, port, reqs, RefRate, WarmS)
    val c0 = ctx.trace.snap()
    val b0 = (ServingCoalescer.batchesRun.get, ServingCoalescer.requestsServed.get)
    val ref = openLoop(ctx, port, reqs, RefRate, ctx.seconds * RefShare)
    val c1 = ctx.trace.snap()
    val b1 = (ServingCoalescer.batchesRun.get, ServingCoalescer.requestsServed.get)
    val sat = closedLoop(ctx, port, reqs, ctx.seconds * (1 - RefShare))

    // output checks after the timed phases: the serving fast path must
    // equal the scan-bound path for a seeded sample of requests
    val sample = new Random(ctx.seed + 7).shuffle(ref.sent.filter(_.path == "/timeseries"))
      .take(CheckSample)
    sample.foreach { q =>
      ctx.check(q.response.exists(b => sameSeries(ctx, b, q)),
        s"serve: series differ from the scan-bound path for ${q.body.take(200)}")
    }

    val (lvl, tail) = Stats.tail(ref.latMs)
    val sent = ref.sent.map(q => Req(q.path, q.body))
    System.err.println(f"[perfbench] serve: ref ${RefRate}%.1f/s n=${ref.latMs.size} " +
      f"p50 ${Stats.median(ref.latMs)}%.1f ms p${lvl * 100}%.1f $tail%.1f ms, " +
      f"lag p50 ${Stats.median(ref.lagMs)}%.2f ms max ${ref.lagMs.max}%.2f ms, " +
      s"backlog ${ref.backlogMid}->${ref.backlogEnd}; saturated ${sat.latMs.size} " +
      f"requests, ${sat.completedPerS}%.2f/s; inputs: hour share ${share(sent, "\"hour\"")}%.2f, " +
      f"polygon+FC share ${share(sent, "Polygon")}%.2f, cells x bands ${cellsTimesBands(sent)}%.0f, " +
      s"serving keys ${servingKeys(sent)}")

    val e2e = Seq(
      Metric("p50_ms", Stats.median(ref.latMs), "ms"),
      Metric("rate_per_s", sat.completedPerS, "1/s"))

    val posts = ref.sent.filter(_.path != "/metadata")
    val dc = c1 - c0
    // the in-process twins feed per-layer metrics only
    val (extractMs, serializeUs) = if (ctx.trace.on) inProcess(ctx, sample) else (0.0, 0.0)
    val layers = Seq(
      Metric("api.parse_us", Stats.median(posts.map { q =>
        val t0 = System.nanoTime()
        ctx.trace.span("api.parse") {
          if (q.path == "/timeseries") RequestJson.parse(q.body)
          else RequestJson.parseV1(q.body)._1
        }
        (System.nanoTime() - t0) / 1e3
      }), "us"),
      Metric("api.serialize_us", serializeUs, "us"),
      Metric("api.batch_size",
        (b1._2 - b0._2).toDouble / math.max(1L, b1._1 - b0._1), "requests"),
      Metric("api.jobs_per_request", dc("jobs").toDouble / ref.latMs.size, "count"),
      Metric("api.job_ms", dc("job_ms").toDouble / math.max(1L, dc("jobs")), "ms"),
      Metric("api.tail_ms", tail, "ms"),
      Metric("api.generator_lag_ms", ref.lagMs.max, "ms"),
      Metric("api.backlog_growth", (ref.backlogEnd - ref.backlogMid).toDouble, "requests"),
      Metric("cube.serving_extract_ms", extractMs, "ms"),
      Metric("cube.cells_per_selection", Stats.mean(posts.map(q =>
        Data.cellsOf(parse(q).selectedArea).toDouble)), "cells"),
      Metric("jvm.gc_ms", dc("gc_ms").toDouble / ref.latMs.size, "ms")) ++
      Layers.spark(dc, ref.latMs.size)
    server.stop()
    (e2e, layers)
  }

  /** Send one request and record it; the latency runs from `dueNs`. */
  private def send(ctx: Ctx, port: Int, q: Sent): Unit = {
    ctx.attempted.incrementAndGet()
    val op = ctx.trace.newOp()
    try {
      val resp = client.send(q.request(port), HttpResponse.BodyHandlers.ofString())
      q.endNs = System.nanoTime()
      if (ctx.check(resp.statusCode == 200,
          s"serve: ${q.path} -> ${resp.statusCode}: ${resp.body.take(200)}"))
        q.response = Some(resp.body)
    } catch {
      case scala.util.control.NonFatal(e) =>
        q.endNs = System.nanoTime()
        ctx.check(ok = false, s"serve: ${q.path} threw $e")
    }
    ctx.trace.record("api.request", q.dueNs, q.endNs, op)
  }

  /** One open-loop phase: requests fall due every 1/`rate` seconds
    * (evenly spaced, so seeds differ only in what is asked) for
    * `seconds`; a dispatcher enqueues each at its due time and `nproc`
    * sender threads drain the queue. */
  private def openLoop(ctx: Ctx, port: Int, reqs: Iterator[Req], rate: Double,
      seconds: Double): Phase = {
    val queue = new LinkedBlockingQueue[Sent]()
    val senders = Executors.newFixedThreadPool(ctx.cpus)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    val stop = new AtomicInteger(0)
    (0 until ctx.cpus).foreach { _ =>
      senders.execute { () =>
        var q = queue.poll(50, TimeUnit.MILLISECONDS)
        while (q != null || stop.get == 0) {
          if (q != null) { send(ctx, port, q); done.add(q) }
          q = queue.poll(50, TimeUnit.MILLISECONDS)
        }
      }
    }
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var due = t0
    var backlogMid = -1
    val lags = ArrayBuffer.empty[Double]
    while (due < end) {
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val q = reqs.next().sent(due)
      lags += (System.nanoTime() - due) / 1e6
      queue.put(q)
      if (backlogMid < 0 && due - t0 > (end - t0) / 2) backlogMid = queue.size
      due += (1e9 / rate).toLong
    }
    val backlogEnd = queue.size
    stop.set(1)
    senders.shutdown()
    require(senders.awaitTermination(120, TimeUnit.SECONDS), "serve senders hung")
    val sent = done.toArray(new Array[Sent](0)).toSeq
    Phase(sent, sent.map(q => (q.endNs - q.dueNs) / 1e6), lags.toSeq,
      backlogMid max 0, backlogEnd, sent.count(_.endNs <= end) / seconds)
  }

  /** Saturation: `nproc` senders back to back for `seconds`; the
    * completion rate is the server's capacity for this mix. */
  private def closedLoop(ctx: Ctx, port: Int, reqs: Iterator[Req],
      seconds: Double): Phase = {
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    val senders = Executors.newFixedThreadPool(ctx.cpus)
    (0 until ctx.cpus).foreach { _ =>
      senders.execute { () =>
        while (System.nanoTime() < end) {
          val q = reqs.synchronized(reqs.next()).sent(System.nanoTime())
          send(ctx, port, q)
          done.add(q)
        }
      }
    }
    senders.shutdown()
    require(senders.awaitTermination(120, TimeUnit.SECONDS), "serve senders hung")
    val sent = done.toArray(new Array[Sent](0)).toSeq
    val inTime = sent.filter(_.endNs <= end)
    val span = if (inTime.isEmpty) seconds else (inTime.map(_.endNs).max - start) / 1e9
    Phase(sent, sent.map(q => (q.endNs - q.dueNs) / 1e6), Nil, 0, 0, inTime.size / span)
  }

  private def sameSeries(ctx: Ctx, body: String, q: Sent): Boolean = {
    val req = RequestJson.parse(q.body)
    val slow = ResponseJson.toJson(req, extractTimeseries(ctx.spark, dir, req))
    seriesClose(mapper.readTree(body).get("series"), mapper.readTree(slow).get("series"))
  }

  /** In-process twins of a request sample: serving-cube extraction
    * (ms) and response serialization (µs), each a median. */
  private def inProcess(ctx: Ctx, sample: Seq[Sent]): (Double, Double) = {
    val runs = sample.map { q =>
      val req = RequestJson.parse(q.body)
      val t0 = System.nanoTime()
      val res = ctx.trace.span("cube.serving_extract")(
        extractTimeseries(ctx.spark, dir, req, serving = true))
      val ms = (System.nanoTime() - t0) / 1e6
      val us = (0 until 5).map { _ =>
        val t1 = System.nanoTime()
        ctx.trace.span("api.serialize")(ResponseJson.toJson(req, res))
        (System.nanoTime() - t1) / 1e3
      }
      (ms, us)
    }
    (Stats.median(runs.map(_._1)), Stats.median(runs.flatMap(_._2)))
  }
}

object Serve {
  /** The reference rate, under a third of this mix's capacity on four
    * cores (~10 requests/s): requests rarely queue, so a slower request
    * path shows as itself and not amplified by queueing. */
  val RefRate = 3.0
  val WarmS = 4.0
  /** Share of the run spent at the reference rate; the rest saturates. */
  val RefShare = 0.6
  val Events = 100000L
  val CheckSample = 2
  /** One client: HTTP/1.1, so at most one connection per sender thread. */
  private val client = HttpClient.newHttpClient()
  val Resolutions: Seq[String] = Seq("day", "hour", "month")
  private val mapper = new ObjectMapper()

  final case class Req(path: String, body: String) {
    def sent(due: Long): Sent = Sent(path, body, due)
  }
  final case class Sent(path: String, body: String, dueNs: Long) {
    @volatile var endNs: Long = 0L
    @volatile var response: Option[String] = None
    def request(port: Int): HttpRequest =
      if (path == "/metadata")
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
      else post(port, path, body)
  }
  final case class Phase(sent: Seq[Sent], latMs: Seq[Double], lagMs: Seq[Double],
      backlogMid: Int, backlogEnd: Int, completedPerS: Double)

  def post(port: Int, path: String, body: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()

  def timeRange(res: String, d0: Int, d1: Int): String = res match {
    case "month" => """{"gte":{"year":2024,"month":1},"lte":{"year":2024,"month":1}}"""
    case _ => s"""{"gte":"2024-01-${f"$d0%02d"}","lte":"2024-01-${f"$d1%02d"}"}"""
  }

  /** The seeded traffic mix, stratified in blocks of 20 so every seed
    * sends the same shares: 5% GET /metadata, 5% /v1/timeseries, and
    * POST /timeseries at day 55% / hour 25% / month 10%. Hour windows
    * are 2–6 days, day windows 10–26 days. These shares, like the area
    * shares in [[Data.areas]], are assumptions: no traffic log of the
    * reference service exists to take them from. */
  def requests(r: Random): Iterator[Req] = {
    val areas = Data.areas(new Random(r.nextLong()))
    Iterator.continually(r.shuffle(
      Seq("meta", "v1") ++ Seq.fill(11)("day") ++ Seq.fill(5)("hour") ++ Seq.fill(2)("month"))
      .map(request(r, _, areas))).flatten
  }

  def request(r: Random, kind: String, areas: Iterator[SelectedArea]): Req = kind match {
    case "meta" => Req("/metadata", "")
    case "v1" =>
      val d0 = 2 + r.nextInt(8)
      Req("/v1/timeseries",
        s"""{"datasetId":"${Data.Datasets(r.nextInt(4))}","variableName":"value",""" +
          s""""boundaryGeometry":${Data.geoJson(areas.next())},""" +
          s""""start":"2024-01-${f"$d0%02d"}","end":"2024-01-${f"${d0 + 12}%02d"}"}""")
    case res =>
      val (d0, d1) = res match {
        case "hour" => val a = 2 + r.nextInt(20); (a, a + 2 + r.nextInt(5))
        case _ => val a = 2 + r.nextInt(4); (a, a + 10 + r.nextInt(17))
      }
      val series = (1 to 1 + r.nextInt(3)).map(i =>
        s"""{"name":"s$i","smoother":${Data.smootherJson(Data.smoother(r))}}""")
      Req("/timeseries",
        s"""{"resolution":"$res","dataset_id":"${Data.Datasets(r.nextInt(4))}",""" +
          s""""variable_id":"value","time_range":${timeRange(res, d0, d1)},""" +
          s""""selected_area":${Data.geoJson(areas.next())},""" +
          s""""zonal_statistic":"${if (r.nextBoolean()) "mean" else "median"}",""" +
          s""""transform":${Data.transformJson(Data.transform(r))},""" +
          s""""requested_series_options":${series.mkString("[", ",", "]")}}""")
  }

  /** Series blocks equal up to the 6-decimal rounding both paths apply. */
  def seriesClose(a: JsonNode, b: JsonNode): Boolean = {
    def close(x: JsonNode, y: JsonNode): Boolean =
      if (x.isNumber && y.isNumber)
        math.abs(x.asDouble - y.asDouble) <= 1e-6 * math.max(1.0, math.abs(x.asDouble))
      else if (x.isArray && y.isArray)
        x.size == y.size && (0 until x.size).forall(i => close(x.get(i), y.get(i)))
      else if (x.isObject && y.isObject) {
        import scala.jdk.CollectionConverters._
        x.fieldNames.asScala.toSet == y.fieldNames.asScala.toSet &&
          x.fieldNames.asScala.forall(f => close(x.get(f), y.get(f)))
      } else x == y
    a != null && b != null && close(a, b)
  }

  def copyTree(from: java.io.File, to: java.io.File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }

  def parse(q: Sent): TimeseriesRequest =
    if (q.path == "/timeseries") RequestJson.parse(q.body) else RequestJson.parseV1(q.body)._1

  def share(reqs: Seq[Req], marker: String): Double =
    reqs.count(_.body.contains(marker)).toDouble / math.max(1, reqs.size)

  /** Mean cells × bands per POST body of a request sample — the input
    * property behind the serve numbers. */
  def cellsTimesBands(reqs: Seq[Req]): Double = Stats.mean(reqs.filter(_.path == "/timeseries")
    .map { q =>
      val t = RequestJson.parse(q.body)
      Data.cellsOf(t.selectedArea).toDouble * (t.bandRange._2 - t.bandRange._1 + 1)
    })

  /** Distinct (dataset, resolution) serving cubes a request sample hits. */
  def servingKeys(reqs: Seq[Req]): Int = reqs.filter(_.path != "/metadata").map { q =>
    if (q.path == "/timeseries") {
      val t = RequestJson.parse(q.body); (t.datasetId, t.resolution.name)
    } else (RequestJson.parseV1(q.body)._1.datasetId, EventCube.Daily.name)
  }.distinct.size
}
