package graft.perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, PerfbenchShims, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.metric.{MetricAgg, MetricEngine, MetricQuery, Rollup, Sample}
import graft.promql.{LabelMatcher, MatchOp, PromQLParser}
import graft.server.HttpFrontend
import graft.storage.{CompactionConfig, Compactor, ScanRequest, TimeRange}
import graft.streaming.{MetricStreamIngest, RemoteRead, RemoteWrite}

/** The `serve` workload over one in-process [[HttpFrontend]] +
  * [[MetricEngine]].
  *
  * Setup preloads [[Serve.PreloadHours]] h of a [[Serve.ServeSeries]]-series
  * fleet, compacts until nothing is left and refreshes the 1 h rollup. A
  * dashboard then runs whole cycles while the window lasts: a refresh that
  * sends the ten queries of [[Serve.Cycle]] on [[Serve.RefreshThreads]]
  * panel threads and waits for all of them, then one 2,000-sample
  * remote-write payload carrying a new probe series (its visibility to
  * `/api/v1/query` is the freshness sample), one compaction pass and one
  * rollup refresh. The cycle, all of it, is the workload's timed
  * operation. Every step waits for the one before, so each run does the
  * same work; no timed query window overlaps the warm-up's window for the
  * same query slot.
  *
  * Compaction and rollup refresh are called by the benchmark, so both are
  * spanned in traced runs.
  */
final class Serve(spark: SparkSession, args: PerfBench.Args, res: Result) {
  import Serve._

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val fleet = new Gen.Fleet(ServeSeries, args.seed, ServeScrapeMs)
  private val preloadScrapes: Long = PreloadHours * 3600000L / ServeScrapeMs
  private val hourMs = 3600000L
  private val preloadEnd = Gen.T0 + preloadScrapes * fleet.scrapeMs

  /** Everything a workload run holds on to. */
  final class Store(val root: String) {
    val engine = new MetricEngine(spark, root)
    val compactor = new Compactor(engine.data,
      CompactionConfig(inputSstMinNum = 2, deleteGraceMs = 60000L))
    val rollup = new Rollup(engine, hourMs)
    engine.registerRollup(rollup)
    /** Samples acknowledged per metric (preload included). */
    val acked = new ConcurrentHashMap[String, AtomicLong]()
    def ack(samples: Seq[Sample]): Unit =
      samples.groupBy(_.name).foreach { case (m, ss) =>
        acked.computeIfAbsent(m, _ => new AtomicLong).addAndGet(ss.size) }
    val writeLock = new Object
    var nextPayload = 0L
  }

  // ---- storage observation (sampled on the compaction tick) ----
  private final class StorageLog {
    var maxSeenId = 0L
    var writtenBytes = 0L
    var rewrittenBytes = 0L
    val sstCounts = mutable.ArrayBuffer.empty[Int]
    val deltaCounts = mutable.ArrayBuffer.empty[Int]
    def observe(s: Store): Unit = synchronized {
      val files = s.engine.data.manifest.allSsts()
      files.filter(_.id > maxSeenId).foreach(f => writtenBytes += f.sizeBytes)
      if (files.nonEmpty) maxSeenId = math.max(maxSeenId, files.map(_.id).max)
      sstCounts += files.size
      val dir = new java.io.File(s"${s.engine.data.root}/manifest")
      deltaCounts += Option(dir.list()).map(_.count(_.startsWith("delta-"))).getOrElse(0)
    }
  }

  /** Per-phase observations. */
  private final class PhaseLog {
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val fresh = mutable.ArrayBuffer.empty[Double]
    /** Wall ms of each cycle: its queries, write, freshness probe,
      * compaction pass and rollup refresh. */
    val cycles = mutable.ArrayBuffer.empty[Double]
    /** Codegen compilations during each cycle. */
    val compiles = mutable.ArrayBuffer.empty[Long]
    val bytes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    var compactRuns = 0
    var samplesWritten = 0L
    var metaWrites = 0
    var newSeries = 0L
    val filesPerQuery = mutable.ArrayBuffer.empty[Double]
    var scanned = 0L
    var returned = 0L
    var longQueries = 0
    var rollupHits = 0
    val storage = new StorageLog
    def add(cls: String, ms: Double): Unit =
      synchronized { lat.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms }
    def addBytes(cls: String, b: Double): Unit =
      synchronized { bytes.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += b }
    def queries: Seq[Double] =
      synchronized(lat.filter(_._1 != "write").values.flatten.toSeq)
    def writes: Seq[Double] = synchronized(lat.getOrElse("write", Nil).toSeq)
  }

  private var tracer = new Tracer(false)
  private val http = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private var port = 0
  /** The dashboard's panels: a refresh sends its queries on these. */
  private val panels = Executors.newFixedThreadPool(RefreshThreads)

  def run(): Unit = {
    // ---- setup, repeated; the last store serves the run ----
    val setups = (0 until SetupRepeats).map(i => setup(i))
    val store = setups.last._1
    val preloadS = Stats.median(setups.map(_._2)).get
    val rollupS = Stats.median(setups.map(_._3)).get
    res.layer("setup.preload_s", preloadS)
    res.layer("setup.rollup_s", rollupS)
    res.e2e("setup_s", res.layerMetrics("setup.session_s") + preloadS + rollupS)
    res.show("setup_s", res.e2eMetrics.get("setup_s"), "s", setups.size)

    val fe = new HttpFrontend(spark, store.engine)
    port = fe.start()
    try {
      val w0 = System.nanoTime()
      warmUp(store)
      res.layer("setup.warmup_s", (System.nanoTime() - w0) / 1e9)
      res.note(f"warm-up ${res.layerMetrics("setup.warmup_s")}%.2f s")

      res.canaryS = Some(PerfBench.canary(spark))
      val a = phase(store, traced = false)
      report("untraced", a)
      if (args.trace) {
        tracer = new Tracer(true)
        val listener = new LayerListener
        sc.addSparkListener(listener)
        val b = phase(store, traced = true)
        PerfbenchShims.drainListeners(spark)
        sc.removeSparkListener(listener)
        report("traced", b)
        tracer.write(args.work.resolve("spans.jsonl"))
        layers(a, b, listener)
      }
      val f0 = System.nanoTime()
      finalChecks(store)
      res.note(f"final checks ${(System.nanoTime() - f0) / 1e9}%.2f s")
    } finally {
      panels.shutdown()
      panels.awaitTermination(60, TimeUnit.SECONDS)
      fe.stop()
    }
  }

  /** One set-up from nothing: a fresh store root, the preload written in
    * one batch, compaction until nothing is left, a rollup refresh. Returns (store, preload+compaction seconds, rollup seconds). */
  private def setup(i: Int): (Store, Double, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val store = new Store(args.work.resolve(s"store-$i").toString)
    val preload = fleet.scrapes(0, preloadScrapes)
    store.engine.write(preload.toDF())
    store.ack(preload)
    var rounds = 0
    while (store.compactor.runOnce() && rounds < 100) rounds += 1
    val t1 = System.nanoTime()
    store.rollup.refresh()
    val t2 = System.nanoTime()
    res.note(f"setup $i: preload ${(t1 - t0) / 1e9}%.2f s " +
      f"(${preloadScrapes * fleet.n} samples), rollup ${(t2 - t1) / 1e9}%.2f s")
    (store, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  // ---- operations ----

  private val Gauge = "bench_memory_bytes"

  /** The query mix. Timed queries read [T0+1h, end of preload]; warm-up
    * queries read the first hour only. A slot's expression is fixed; its
    * time window is drawn to the millisecond, so like a dashboard whose
    * range is relative to now, every refresh asks for a window it has not
    * asked for before. */
  private def pick(r: SplittableRandom, timed: Boolean, cls: String, shape: Int): Q = {
    val (lo, hi) = if (timed) (Gen.T0 + hourMs, preloadEnd) else (Gen.T0, Gen.T0 + hourMs)
    // a window of `len` ms inside [lo, hi); range and read windows are
    // 1 h when timed and half that in the warm-up, so they vary there too
    def start(len: Long) = lo + r.nextLong(math.max(1L, hi - lo - len))
    val window = if (timed) hourMs else hourMs / 2
    cls match {
      case "range" =>
        val expr = shape % 3 match {
          case 0 => """sum by (job) (rate(bench_requests_total{instance=~"host-000[0-1].*"}[5m]))"""
          case 1 => "topk(5, sum by (instance) (rate(bench_cpu_seconds_total[5m])))"
          case _ => """max by (job) (bench_queue_depth{job=~"job-[0-2]"})"""
        }
        val s = start(window)
        RangeQ("range", expr, s, s + window, 300000L)
      case "long" =>
        // two hours less up to half an hour: the rollup answers the whole
        // 1 h bucket, raw data the edge. The warm-up reads before T0+2h;
        // timed cycles read from T0+2h to an hour past the preload, where
        // the live writes land
        val base = if (timed) Gen.T0 + 2 * hourMs else Gen.T0
        RangeQ("long", if (shape % 2 == 0) s"sum($Gauge)" else "sum(bench_queue_depth)",
          base + r.nextLong(hourMs / 2), base + 2 * hourMs, hourMs)
      case "instant" =>
        shape % 3 match {
          case 0 =>
            // a time between scrape k and the next one sees scrape k; kept
            // a second off both, as the API reads the time as a double
            val k = (start(fleet.scrapeMs) - Gen.T0) / fleet.scrapeMs
            val t = fleet.ts(k) + 1000L + r.nextLong(fleet.scrapeMs - 2000L)
            InstantQ(s"sum by (job) ($Gauge)", t, fleet.sumByJob(Gauge, k))
          case 1 => LabelsQ()
          case _ =>
            SeriesQ("""bench_queue_depth{job="job-1"}""", start(hi - lo - hourMs / 2),
              hi - 1000L, (0 until fleet.n).count(i =>
                fleet.metric(i) == "bench_queue_depth" && fleet.job(i) == "job-1"))
        }
      case _ =>
        val s = start(window)
        ReadQ("bench_requests_total", "job-0", s, s + window - 1)
    }
  }

  /** Cycle `c` of the timed sequence: the slots of [[Serve.Cycle]] in a
    * seed-shuffled order, with seed-drawn windows and parameters. Every
    * cycle does the same kinds of work; every phase replays the same
    * cycles. */
  private def cycle(c: Int): IndexedSeq[Q] = {
    val r = new SplittableRandom(args.seed * 1000003L + c)
    val a = Cycle.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.map { case (cls, shape) => pick(r, timed = true, cls, shape) }
  }

  /** Closed-form check of a remote-read answer: every preload sample of the
    * matched series in the window, with its generated value. */
  private def checkRead(q: ReadQ, series: Seq[RemoteRead.Series]): Option[String] = {
    val want = (0 until fleet.n).filter(i =>
      fleet.metric(i) == q.metric && fleet.job(i) == q.job)
    val k0 = math.max(0L, Math.floorDiv(q.startMs - Gen.T0 + fleet.scrapeMs - 1, fleet.scrapeMs))
    val k1 = math.min(preloadScrapes - 1, Math.floorDiv(q.endMs - Gen.T0, fleet.scrapeMs))
    val perSeries = k1 - k0 + 1
    if (series.size != want.size)
      return Some(s"read ${q.job}: ${series.size} series, expected ${want.size}")
    series.foreach { s =>
      val inst = s.labels.collectFirst { case ("instance", v) => v }.getOrElse("")
      val i = fleet.byInstance.getOrElse(inst, -1)
      if (i < 0) return Some(s"read: unknown instance $inst")
      if (s.samples.size != perSeries)
        return Some(s"read $inst: ${s.samples.size} samples, expected $perSeries")
      s.samples.foreach { case (ts, v) =>
        val k = (ts - Gen.T0) / fleet.scrapeMs
        if (v != fleet.value(i, k)) return Some(s"read $inst@$ts: $v != ${fleet.value(i, k)}")
      }
    }
    None
  }

  private def checkInstant(q: InstantQ, got: Map[String, Double]): Option[String] =
    if (got == q.expect) None else Some(s"instant ${q.expr}@${q.tMs}: $got != ${q.expect}")

  private def group[A](g: String)(f: => A): A = {
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def sec(ms: Long) = java.math.BigDecimal.valueOf(ms, 3).toPlainString

  private def get(path: String): HttpResponse[Array[Byte]] = http.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
    HttpResponse.BodyHandlers.ofByteArray())

  private def post(path: String, body: Array[Byte]): HttpResponse[Array[Byte]] = http.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
    HttpResponse.BodyHandlers.ofByteArray())

  private val JobValue = """"job":"([^"]+)"\},"value":\[[^,]+,"([^"]+)"\]""".r

  /** One query over HTTP: (error or None, response bytes). */
  private def queryHttp(q: Q): (Option[String], Long) = q match {
    case RangeQ(_, expr, s, e, step) =>
      val r = get(s"/api/v1/query_range?query=${enc(expr)}&start=${sec(s)}&end=${sec(e)}&step=${step / 1000}s")
      val body = new String(r.body(), UTF_8)
      (if (r.statusCode() != 200 || !body.contains("\"result\":[{"))
        Some(s"query_range $expr: ${r.statusCode()} ${body.take(200)}") else None,
        r.body().length)
    case q @ InstantQ(expr, t, _) =>
      val r = get(s"/api/v1/query?query=${enc(expr)}&time=${sec(t)}")
      val body = new String(r.body(), UTF_8)
      val got = JobValue.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
      (if (r.statusCode() != 200) Some(s"query $expr: ${r.statusCode()} ${body.take(200)}")
        else checkInstant(q, got), r.body().length)
    case LabelsQ() =>
      val r = get("/api/v1/labels")
      val body = new String(r.body(), UTF_8)
      val missing = Seq("__name__", "instance", "job", "pod").filterNot(l => body.contains(s""""$l""""))
      (if (r.statusCode() != 200 || missing.nonEmpty)
        Some(s"labels: ${r.statusCode()} missing $missing") else None, r.body().length)
    case SeriesQ(sel, s, e, want) =>
      val r = get(s"/api/v1/series?match[]=${enc(sel)}&start=${sec(s)}&end=${sec(e)}")
      val body = new String(r.body(), UTF_8)
      val n = """"instance":""".r.findAllMatchIn(body).size
      (if (r.statusCode() != 200 || n != want) Some(s"series $sel: ${r.statusCode()} $n != $want")
        else None, r.body().length)
    case q @ ReadQ(m, j, s, e) =>
      val req = org.xerial.snappy.Snappy.compress(RemoteRead.encodeRequest(Seq(
        RemoteRead.Query(s, e, Seq(RemoteRead.Matcher(0, "__name__", m),
          RemoteRead.Matcher(0, "job", j))))))
      val r = post("/api/v1/read", req)
      (if (r.statusCode() != 200) Some(s"read: ${r.statusCode()}")
        else checkRead(q, RemoteRead.decodeResponse(r.body()).head), r.body().length)
  }

  /** One query in-process, through the functions the HTTP handler calls:
    * parse, build the DataFrame, plan, collect. */
  private def queryTraced(q: Q, op: Long, log: PhaseLog, engine: MetricEngine): Option[String] = {
    val cls = q.cls
    def build[A](f: => A): A = group(s"$cls:build#$op")(tracer.span("metric.build")(f))
    def execute(df: DataFrame): Array[org.apache.spark.sql.Row] = {
      val plan = tracer.span("spark.plan")(PerfbenchShims.executedPlan(df))
      val rows = group(s"$cls:exec#$op")(tracer.span("spark.exec")(df.collect()))
      val ph = PerfbenchShims.planningPhasesMs(df)
      Seq("analysis" -> "spark.analyze", "optimization" -> "spark.optimize",
        "planning" -> "spark.plan_phase").foreach { case (k, n) =>
        recordPhase(n, ph.getOrElse(k, 0L).toDouble) }
      log.synchronized {
        log.scanned += Plans.scanRows(plan)
        log.returned += rows.length
      }
      rows
    }
    q match {
      case RangeQ(_, expr, s, e, step) =>
        tracer.span("promql.parse")(PromQLParser.parse(expr))
        val range = TimeRange(s, e + 1)
        val df = build(engine.queryPromQL(expr, range, Some(step)))
        log.synchronized {
          log.filesPerQuery += engine.data.plannedSsts(ScanRequest(range = range)).size
        }
        if (cls == "long") {
          val hit = df.inputFiles.exists(_.contains("_rollup_"))
          log.synchronized { log.longQueries += 1; if (hit) log.rollupHits += 1 }
        }
        val rows = execute(df)
        if (rows.isEmpty) Some(s"query_range $expr: empty") else None
      case q @ InstantQ(expr, t, _) =>
        tracer.span("promql.parse")(PromQLParser.parse(expr))
        val df = build(engine.instantPromQL(expr, t))
        val got = execute(df).map(r => r.getAs[String]("job") -> r.getAs[Double]("value")).toMap
        checkInstant(q, got)
      case LabelsQ() =>
        val df = build(engine.labelKeys())
        val got = execute(df).map(_.getString(0)).toSet
        val missing = Set("__name__", "instance", "job", "pod") -- got
        if (missing.nonEmpty) Some(s"labels missing $missing") else None
      case SeriesQ(sel, _, _, want) =>
        tracer.span("promql.parse")(PromQLParser.parse(sel))
        val n = build(engine.seriesFor(sel)).size
        if (n != want) Some(s"series $sel: $n != $want") else None
      case q @ ReadQ(m, j, s, e) =>
        val df = build(engine.readRaw(Seq(LabelMatcher("__name__", MatchOp.Eq, m),
          LabelMatcher("job", MatchOp.Eq, j)), TimeRange(s, e + 1)))
        val rows = execute(df)
        val series = RemoteRead.seriesFromRows(rows.map(r => (r.getAs[String]("series_key"),
          r.getAs[Long]("ts_ms"), r.getAs[Double]("value"))).toSeq, MetricEngine.parseSeriesKey)
        tracer.span("streaming.read_encode")(
          org.xerial.snappy.Snappy.compress(RemoteRead.encodeResponse(Seq(series))))
        checkRead(q, series)
    }
  }

  private val phaseMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def recordPhase(n: String, ms: Double): Unit =
    phaseMs.synchronized { phaseMs.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms }


  /** One remote-write payload: over HTTP, or in-process as the handler
    * does it (decode, then ingest under the write lock). */
  private def write(store: Store, samples: Seq[Sample], payloadNo: Long,
      traced: Boolean, op: Long, log: PhaseLog): Option[String] = {
    val body = Gen.body(samples, payloadNo)
    val err =
      if (!traced) {
        val r = post("/api/v1/write", body)
        if (r.statusCode() != 204) Some(s"write $payloadNo: ${r.statusCode()} " +
          new String(r.body(), UTF_8).take(200)) else None
      } else {
        val req = tracer.span("streaming.decode", op)(RemoteWrite.decodeRequest(body))
        store.writeLock.synchronized {
          val before = store.engine.series.manifest.maxSstId
          group(s"write:ingest#$op")(tracer.span("metric.write", op)(
            MetricStreamIngest.ingestDecoded(store.engine, spark, req.samples)))
          if (store.engine.series.manifest.maxSstId != before)
            log.synchronized { log.metaWrites += 1 }
        }
        None
      }
    if (err.isEmpty) {
      store.ack(samples)
      log.synchronized { log.samplesWritten += samples.size }
      log.storage.observe(store)
    }
    err
  }

  /** [[Serve.WarmupCycles]] untimed cycles with every query slot of
    * [[Serve.Cycle]] over the first hour, so the code paths the window
    * runs (the HTTP write path, compaction and rollup refresh included)
    * are compiled and the JIT has seen them more than once. */
  private def warmUp(store: Store): Unit = {
    val r = new SplittableRandom(args.seed ^ 0x5eedL)
    (0 until WarmupCycles).foreach { _ =>
      val qs = Cycle.distinct.map { case (c, shape) => pick(r, timed = false, c, shape) }
      runCycle(store, qs.toIndexedSeq, new PhaseLog, traced = false, new AtomicLong)
    }
  }

  /** Payload `p`: the next scrapes of the fleet after the preload plus
    * one new probe series. */
  private def payload(p: Long): Seq[Sample] = {
    val per = 2000 / fleet.n
    val k0 = preloadScrapes + p * per
    fleet.scrapes(k0, k0 + per) :+ Gen.probe(p, fleet.ts(k0 + per - 1))
  }

  /** Freshness: poll `/api/v1/query` (or [[MetricEngine.instantPromQL]])
    * for payload `p`'s probe series until it answers. */
  private def awaitProbe(p: Long, traced: Boolean, deadlineNs: Long,
      engine: MetricEngine): Boolean = {
    val k = preloadScrapes + (p + 1) * (2000 / fleet.n) - 1
    val expr = s"""${Gen.ProbeMetric}{probe="p$p"}"""
    while (System.nanoTime() < deadlineNs) {
      val seen =
        if (traced) group(s"instant:exec#fresh$p")(
          engine.instantPromQL(expr, fleet.ts(k)).collect().nonEmpty)
        else {
          val r = get(s"/api/v1/query?query=${enc(expr)}&time=${sec(fleet.ts(k))}")
          r.statusCode() == 200 && new String(r.body(), UTF_8).contains("\"result\":[{")
        }
      if (seen) return true
    }
    false
  }

  /** One dashboard cycle; returns its wall ms. The refresh sends the
    * queries `qs` on the panel threads and waits for all of them; then
    * one remote-write payload with its freshness probe, one compaction
    * pass and one rollup refresh. */
  private def runCycle(store: Store, qs: IndexedSeq[Q], log: PhaseLog, traced: Boolean,
      opIds: AtomicLong): Double = {
    val c0 = System.nanoTime()
    qs.map { q =>
      val op = opIds.incrementAndGet()
      panels.submit(new Runnable { def run(): Unit = {
        val start = System.nanoTime()
        val (err, bytes) =
          try tracer.span(s"op.${q.cls}", op)(
            if (traced) (queryTraced(q, op, log, store.engine), 0L) else queryHttp(q))
          catch { case scala.util.control.NonFatal(e) => (Some(s"${q.cls}: $e"), 0L) }
        res.check(err.isEmpty, err.getOrElse(""))
        log.add(q.cls, (System.nanoTime() - start) / 1e6)
        log.addBytes(q.cls, bytes.toDouble)
      }})
    }.foreach(_.get())

    val s0 = System.nanoTime()
    val p = store.nextPayload
    store.nextPayload += 1
    val wOp = opIds.incrementAndGet()
    val err = tracer.span("op.write", wOp)(write(store, payload(p), p, traced, wOp, log))
    log.add("write", (System.nanoTime() - s0) / 1e6)
    log.newSeries += 1
    if (res.check(err.isEmpty, err.getOrElse(""))) {
      val seen = awaitProbe(p, traced, System.nanoTime() + 30000000000L, store.engine)
      if (res.check(seen, s"probe p$p never became visible"))
        log.fresh += (System.nanoTime() - s0) / 1e6
    }

    val cOp = opIds.incrementAndGet()
    val before = store.engine.data.manifest.allSsts().map(f => f.id -> f.sizeBytes).toMap
    log.storage.observe(store)
    val k0 = System.nanoTime()
    val did = try group(s"compaction:run#$cOp")(tracer.span("storage.compaction", cOp)(
        store.compactor.runOnce()))
      catch { case scala.util.control.NonFatal(e) => res.fail(s"compaction: $e"); false }
    if (did) {
      log.compactMs += (System.nanoTime() - k0) / 1e6
      log.compactRuns += 1
      val after = store.engine.data.manifest.allSsts().map(_.id).toSet
      log.storage.synchronized {
        log.storage.rewrittenBytes += before.filter(f => !after(f._1)).values.sum
      }
      log.storage.observe(store)
    }

    val r0 = System.nanoTime()
    val rOp = opIds.incrementAndGet()
    try group(s"rollup:refresh#$rOp")(tracer.span("metric.rollup_refresh", rOp)(
        store.rollup.refresh()))
    catch { case scala.util.control.NonFatal(e) => res.fail(s"rollup refresh: $e") }
    val end = System.nanoTime()
    res.note(f"cycle: refresh ${(s0 - c0) / 1e6}%.0f ms, write and probe ${(k0 - s0) / 1e6}%.0f ms, " +
      f"compaction ${(r0 - k0) / 1e6}%.0f ms, rollup refresh ${(end - r0) / 1e6}%.0f ms")
    (end - c0) / 1e6
  }

  /** One measured window: whole cycles while `args.seconds` last, and at
    * least [[Serve.MinCycles]]. */
  private def phase(store: Store, traced: Boolean): PhaseLog = {
    val log = new PhaseLog
    val windowNs = args.seconds * 1000000000L
    val opIds = new AtomicLong(0)
    val t0 = System.nanoTime()
    val cpu0 = PerfBench.processCpuNs()
    val gc0 = PerfBench.gcMs()
    var c = 0
    while (System.nanoTime() - t0 < windowNs || c < MinCycles) {
      val k0 = PerfbenchShims.codegenCompiles
      log.cycles += runCycle(store, cycle(c), log, traced, opIds)
      log.compiles += PerfbenchShims.codegenCompiles - k0
      c += 1
    }
    log.synchronized {
      log.storage.observe(store)
      phaseWindow(log) = ((System.nanoTime() - t0) / 1e6, PerfBench.processCpuNs() - cpu0,
        PerfBench.gcMs() - gc0)
    }
    log
  }

  /** Wall ms, CPU ns and GC ms of each phase. */
  private val phaseWindow = mutable.Map.empty[PhaseLog, (Double, Long, Long)]

  /** The workload's unit of work: one whole cycle. */
  private def opSamples(log: PhaseLog): Seq[Double] = log.cycles.toSeq

  /** Print a phase's figures; the untraced phase also sets the end-to-end
    * metrics. */
  private def report(label: String, log: PhaseLog): Unit = {
    val (wallMs, cpuNs, _) = phaseWindow(log)
    val ops = opSamples(log)
    res.note(s"phase $label: ${ops.size} ops in ${PerfBench.fmt(wallMs / 1000)} s, ms: " +
      ops.map(PerfBench.fmt).mkString(" ") + "; codegen compiles: " + log.compiles.mkString(" "))
    def show(n: String, v: Option[Double], u: String, k: Int) = res.show(s"$label.$n", v, u, k)
    val w = log.writes
    show("write_p50_ms", Stats.median(w), "ms", w.size)
    show("write_p90_ms", Stats.percentile(w, 0.9), "ms", w.size)
    show("ingest_samples_per_s", Some(log.samplesWritten / (wallMs / 1000)), "samples/s", w.size)
    val q = log.queries
    show("query_p50_ms", Stats.median(q), "ms", q.size)
    show("query_p90_ms", Stats.percentile(q, 0.9), "ms", q.size)
    Seq("range", "long", "instant", "read").foreach { c =>
      val xs = log.lat.getOrElse(c, Nil).toSeq
      show(s"${c}_p50_ms", Stats.median(xs, minSamples = 20), "ms", xs.size)
    }
    show("freshness_p50_ms", Stats.median(log.fresh.toSeq), "ms", log.fresh.size)
    show("op_p50_ms", Stats.median(ops), "ms", ops.size)
    show("cpu_ms_per_op", Some(cpuNs / 1e6 / math.max(1, ops.size)), "ms", ops.size)
    if (label == "untraced") {
      Stats.median(ops) match {
        case Some(v) => res.e2e("op_p50_ms", v)
        case None => res.fail("no operation completed")
      }
      res.e2e("cpu_ms_per_op", cpuNs / 1e6 / math.max(1, ops.size))
      res.e2e("heap_live_mb", PerfBench.liveHeapMb(spark))
    }
  }

  /** Per-layer metrics from the traced phase `b`, against untraced `a`. */
  private def layers(a: PhaseLog, b: PhaseLog, listener: LayerListener): Unit = {
    val (wallMs, _, gcMs) = phaseWindow(b)
    def med(xs: Seq[Double]) = Stats.median(xs).getOrElse(0.0)
    def qMed(log: PhaseLog) = med(log.queries)
    res.layer("server.write_self_ms", med(a.writes) - med(tracer.ms("op.write")))
    res.layer("server.query_self_ms", qMed(a) - med(Seq("range", "long", "instant", "read")
      .flatMap(c => tracer.ms(s"op.$c"))))
    Seq("range", "long", "instant", "read").foreach(c =>
      res.layer(s"server.response_bytes.$c", Stats.mean(a.bytes.getOrElse(c, Nil).toSeq).getOrElse(0.0)))
    res.layer("streaming.decode_ms", med(tracer.ms("streaming.decode")))
    res.layer("streaming.read_encode_ms", med(tracer.ms("streaming.read_encode")))
    res.layer("metric.write_ms", med(tracer.ms("metric.write")))
    val writes = math.max(1, b.writes.size)
    val wAcc = listener.totals.filter(_._1.startsWith("write:")).values
    res.layer("metric.write_jobs", wAcc.map(_.jobs).sum.toDouble / writes)
    res.layer("metric.write_tasks", wAcc.map(_.tasks).sum.toDouble / writes)
    res.layer("metric.series_registered", b.newSeries.toDouble / writes)
    res.layer("metric.meta_write_share", b.metaWrites.toDouble / writes)
    res.layer("metric.build_ms", med(tracer.ms("metric.build")))
    val nq = math.max(1, b.queries.size)
    res.layer("metric.build_jobs", listener.totals.filter(_._1.endsWith(":build"))
      .values.map(_.jobs).sum.toDouble / nq)
    res.layer("metric.rollup_hit_ratio",
      if (b.longQueries == 0) 0.0 else b.rollupHits.toDouble / b.longQueries)
    res.layer("metric.rollup_refresh_ms", med(tracer.ms("metric.rollup_refresh")))
    res.layer("promql.parse_us", med(tracer.ms("promql.parse")) * 1000)
    res.layer("spark.analyze_ms", med(phaseMs.getOrElse("spark.analyze", Nil).toSeq))
    res.layer("spark.optimize_ms", med(phaseMs.getOrElse("spark.optimize", Nil).toSeq))
    res.layer("spark.plan_ms", med(phaseMs.getOrElse("spark.plan_phase", Nil).toSeq))
    res.layer("spark.exec_ms", med(tracer.ms("spark.exec")))
    res.layer("spark.codegen_compiles", med(b.compiles.map(_.toDouble).toSeq))
    val opsByClass = b.lat.map { case (c, xs) => c -> xs.size }.toMap
    Metrics.sparkLayers(res, listener, opsByClass, wallMs, cores)
    res.layer("jvm.gc_ms", gcMs.toDouble)
    val st = b.storage
    res.layer("storage.ssts_live_mean", Stats.mean(st.sstCounts.map(_.toDouble).toSeq).getOrElse(0.0))
    res.layer("storage.ssts_live_max", (0 +: st.sstCounts.toSeq).max.toDouble)
    res.layer("storage.manifest_deltas_max", (0 +: st.deltaCounts.toSeq).max.toDouble)
    res.layer("storage.compaction_ms", med(b.compactMs.toSeq))
    res.layer("storage.compaction_runs", b.compactRuns.toDouble)
    res.layer("storage.compaction_bytes_rewritten", st.rewrittenBytes.toDouble)
    res.layer("storage.write_amp",
      if (b.samplesWritten == 0) 0.0 else st.writtenBytes / (16.0 * b.samplesWritten))
    res.layer("storage.files_per_query", Stats.mean(b.filesPerQuery.toSeq).getOrElse(0.0))
    res.layer("storage.rows_scanned_per_row_returned",
      if (b.returned == 0) 0.0 else b.scanned.toDouble / b.returned)
    res.layer("trace.op_p50_delta_ms", med(opSamples(b)) - med(opSamples(a)))
    Metrics.zeroFill(res)
  }

  /** After the window: compaction drained, every acknowledged sample
    * present exactly once, also after reopening the store from disk;
    * remote read agrees with the engine; rollup-routed answers equal raw. */
  private def finalChecks(store: Store): Unit = {
    var rounds = 0
    while (store.compactor.runOnce() && rounds < 100) rounds += 1
    store.compactor.flushDeferred()
    val names = store.acked.keySet().toArray(Array.empty[String]).toSeq
    val ids = {
      import spark.implicits._
      names.toDF("name").select(col("name"), xxhash64(col("name"))).collect()
        .map(r => r.getLong(1) -> r.getString(0)).toMap
    }
    // merge-on-read rows per metric: each distinct (series, ts) once
    def counts(e: MetricEngine): Map[String, Long] = {
      val byId = e.data.scan().groupBy("metric_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      names.map(m => m -> 0L).toMap ++
        byId.collect { case (id, n) if ids.contains(id) => ids(id) -> n }
    }
    val want = store.acked.entrySet().toArray(Array.empty[java.util.Map.Entry[String, AtomicLong]])
      .map(e => e.getKey -> e.getValue.get()).toMap
    val got = counts(store.engine)
    res.check(got == want, s"engine counts $got != acknowledged $want")
    val reopened = counts(new MetricEngine(spark, store.root))
    res.check(reopened == want, s"reopened counts $reopened != acknowledged $want")
    val total = want.values.sum
    val bytes = store.engine.data.manifest.allSsts().map(_.sizeBytes).sum
    res.show("bytes_per_sample", Some(bytes.toDouble / math.max(1L, total)), "B", 1)

    val m = "bench_requests_total"
    val r = post("/api/v1/read", org.xerial.snappy.Snappy.compress(RemoteRead.encodeRequest(Seq(
      RemoteRead.Query(Gen.T0, Long.MaxValue / 2, Seq(RemoteRead.Matcher(0, "__name__", m)))))))
    val readBack = if (r.statusCode() != 200) -1L
      else RemoteRead.decodeResponse(r.body()).head.map(_.samples.size.toLong).sum
    res.check(readBack == want.getOrElse(m, 0L),
      s"final remote read $readBack != engine ${want.getOrElse(m, 0L)}")

    store.rollup.refresh()
    val range = TimeRange(Gen.T0, preloadEnd)
    val routed = store.engine.queryPromQL(s"sum($Gauge)", range, Some(hourMs))
    res.check(routed.inputFiles.exists(_.contains("_rollup_")),
      "long query did not route to the rollup after a refresh")
    def byBucket(df: DataFrame) = df.collect()
      .map(r => r.getAs[Long]("bucket_ms") -> r.getAs[Double]("value")).toMap
    val raw = byBucket(store.engine.query(MetricQuery(Gauge, range = range,
      stepMs = Some(hourMs), agg = MetricAgg.Sum)))
    val rolled = byBucket(routed)
    res.check(rolled == raw, s"rollup-routed $rolled != raw $raw")
  }
}

object Serve {
  sealed trait Q { def cls: String }
  final case class RangeQ(cls: String, expr: String, startMs: Long, endMs: Long,
      stepMs: Long) extends Q
  /** `sum by (job)` of a gauge at a scrape time; `expect` is its closed form. */
  final case class InstantQ(expr: String, tMs: Long, expect: Map[String, Double])
      extends Q { val cls = "instant" }
  final case class LabelsQ() extends Q { val cls = "instant" }
  final case class SeriesQ(selector: String, startMs: Long, endMs: Long,
      expect: Int) extends Q { val cls = "instant" }
  final case class ReadQ(metric: String, job: String, startMs: Long, endMs: Long)
      extends Q { val cls = "read" }

  /** One cycle of the query mix as (class, shape) slots: range 40 %
    * (three shapes), long 20 %, instant 30 % (`/api/v1/query`,
    * `/api/v1/labels`, `/api/v1/series`), read 10 %. Ten queries, so a
    * run of one cycle always does the same kinds of work. */
  val Cycle: Seq[(String, Int)] = Seq("range" -> 0, "range" -> 1, "range" -> 2,
    "range" -> 0, "long" -> 0, "long" -> 1, "instant" -> 0, "instant" -> 1,
    "instant" -> 2, "read" -> 0)
  val ServeSeries = 50
  val ServeScrapeMs = 60000L
  val PreloadHours = 3L
  /** Panel threads of a dashboard refresh. */
  val RefreshThreads = 3
  /** Cycles a window measures at least, so `op_p50_ms` is the median of
    * more than one sample. */
  val MinCycles = 2
  /** Untimed cycles before the window: each refresh compiles new code
    * for its new windows, and the first ones are slow while the JIT
    * warms up. */
  val WarmupCycles = 2
  /** Set-ups per run; setup_s reports their median. A `serve` set-up
    * (preload, compaction, rollup) costs ~7 s warm on 4 cores, so two
    * keep a `serve` run near one minute. */
  val SetupRepeats = 2
}
