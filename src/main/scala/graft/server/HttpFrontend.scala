package graft.server

import java.net.InetSocketAddress
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicBoolean

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.metric.MetricEngine
import graft.storage.{CompactionConfig, Compactor, TimeRange}
import graft.streaming.MetricStreamIngest

/** The serving edge of the engine — the Spark-side analog of the reference's
  * actix HTTP server (reference src/server/src/main.rs:58-80, 151-168):
  *
  *  - `GET  /`            → liveness ("Hello world!", main.rs:59-62)
  *  - `GET  /toggle`      → flip the ingest gate; responds "Stop!" /
  *                          "Start write again!" (main.rs:64-73 — there it
  *                          gates the built-in bench writer; here the same
  *                          flag gates the HTTP write path, the one writer
  *                          this server owns)
  *  - `GET  /compact`     → submit one compaction task asynchronously;
  *                          responds "Task submit!" (main.rs:75-81 — fire
  *                          and forget, errors are logged not returned)
  *  - `POST /api/v1/write`→ Prometheus remote-write receive: snappy-framed
  *                          or raw protobuf body → decode → engine ingest
  *                          (the network face of the T1–T4 chain the
  *                          in-process [[MetricStreamIngest]] drives); 204
  *                          on success per the remote-write 1.0 spec, 503
  *                          while toggled off, 400 on an undecodable body
  *  - `GET  /query?promql=…[&start=…&end=…&step=…]` → evaluate PromQL over
  *          the engine ([[MetricEngine.queryPromQL]]) and return the rows
  *          as a JSON array (beyond the reference, whose query path never
  *          landed on main — SURVEY §2; the RFC's PromQL-shaped surface is
  *          what this serves)
  *
  * Built on the JDK's `com.sun.net.httpserver` (no new dependencies), 4
  * worker threads like the reference (`.workers(4)`, main.rs:160). Writes
  * serialize through one lock — the engine's manifest is single-writer by
  * design (Manifest Scaladoc); queries run unlocked and scale with the
  * Spark session underneath. `port = 0` binds an ephemeral port (tests);
  * [[boundPort]] reports the actual one. Sockets run with TCP_NODELAY
  * (`sun.net.httpserver.nodelay`): the JDK server writes a response's
  * headers and body as two segments, and with Nagle's algorithm on the
  * body waits for the client's delayed ACK of the headers — 44 ms per
  * keep-alive `GET /-/healthy`, about 1 ms without.
  */
final class HttpFrontend(
    spark: SparkSession,
    engine: MetricEngine,
    port: Int = 0,
    /** Default grace-deferred physical deletes (60 s): this class IS the
      * serving deployment, where compaction racing an in-flight query's
      * planned file list is a live failure mode (CompactionConfig
      * .deleteGraceMs). Batch callers pass their own config. */
    compaction: CompactionConfig = CompactionConfig(deleteGraceMs = 60000L),
    /** Write-body cap in bytes (default 64 MiB, generous for remote-write
      * batches). Bodies are buffered before decode, and snappy can expand
      * further — without a cap a handful of multi-GB POSTs OOM the JVM
      * (query + ingest down together). Oversized requests get 413.
      * Bounded above by ~2 GiB: bodies land in one JVM array, so a larger
      * "cap" could never be honored (and its Int truncation would
      * silently reject everything). */
    maxWriteBodyBytes: Long = 64L << 20,
    /** Read-path result cap (rows) on every query endpoint — the read-side
      * twin of `maxWriteBodyBytes`. The serving JVM buffers the collected
      * rows AND the rendered JSON, so an uncapped wide matrix (every
      * series × thousands of steps) is an OOM with query + ingest down
      * together; Prometheus itself enforces `maxSamples` + response
      * limits. Checked with `limit(cap+1)` BEFORE the collect, so an
      * oversized result never materializes on the driver; exceeding it is
      * a 422 with the standard error envelope (errorType "execution",
      * like Prometheus's maxSamples error). */
    maxResultRows: Int = 500000,
    /** Instant-query lookback delta (Prometheus `--query.lookback-delta`,
      * default 5 m): how far behind the evaluation time a series' newest
      * sample may be and still count as "current". */
    lookbackMs: Long = 300000L,
    /** Recording / alerting rule groups ([[RuleEngine]]): evaluated on
      * their own cadences once [[start]] runs, served at `/api/v1/rules`
      * and `/api/v1/alerts`. Rule writes share [[ingestLock]] with the
      * HTTP write path (single-writer manifest). */
    rules: Seq[RuleGroup] = Nil,
    /** Downsampled rollup grids (ms) to maintain and serve: each grid
      * gets a [[graft.metric.Rollup]] registered on the engine (so the
      * query endpoints transparently route exact-answerable aggregations
      * to it) and a [[graft.metric.RollupScheduler]] refresh tick while
      * the frontend runs. Between ticks the freshness gate falls back to
      * raw — never stale reads. */
    rollupGrids: Seq[Long] = Nil,
    /** Refresh cadence for [[rollupGrids]] (default 30 s — refresh cost
      * is bounded by ingest since the last tick, not table size). */
    rollupRefreshMs: Long = 30000L) {
  require(maxWriteBodyBytes > 0 && maxWriteBodyBytes <= Int.MaxValue - 8L,
    s"maxWriteBodyBytes must be in (0, ${Int.MaxValue - 8}], " +
      s"got $maxWriteBodyBytes — bodies are single JVM arrays")
  require(maxResultRows > 0 && maxResultRows <= Int.MaxValue - 8,
    s"maxResultRows must be in (0, ${Int.MaxValue - 8}], got $maxResultRows")
  require(lookbackMs > 0, s"lookbackMs must be positive, got $lookbackMs")

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[HttpFrontend])
  private val keepWriting = new AtomicBoolean(true)
  private val compactor = new Compactor(engine.data, compaction)
  // fire-and-forget compaction submissions, one at a time (the Compactor
  // itself also bounds in-flight tasks via its semaphore)
  private val compactPool = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-http-compact"); t.setDaemon(true); t
  })
  private val ingestLock = new Object

  /** The rule evaluator, when rule groups were configured — public so
    * embedding callers (and tests) can drive deterministic evaluations
    * via [[RuleEngine.evalGroupOnce]]. */
  val ruleEngine: Option[RuleEngine] =
    if (rules.isEmpty) None
    else Some(new RuleEngine(spark, engine, rules, lookbackMs = lookbackMs,
      writeLock = ingestLock))

  /** The maintained rollups (one per configured grid), registered for
    * transparent query routing; public so embedding callers can force a
    * deterministic [[graft.metric.Rollup.refresh]] in tests. */
  val rollups: Seq[graft.metric.Rollup] =
    rollupGrids.map(g => new graft.metric.Rollup(engine, g))
  rollups.foreach(engine.registerRollup)
  /** The rollup maintenance loop, when grids were configured — public so
    * embedding callers (and tests) can drive a deterministic tick via
    * [[graft.metric.RollupScheduler.runOnce]] and read the health
    * counters that `/metrics` + `/api/v1/status/tsdb` surface. */
  val rollupScheduler: Option[graft.metric.RollupScheduler] =
    if (rollups.isEmpty) None
    else Some(new graft.metric.RollupScheduler(rollups, rollupRefreshMs))

  // TCP_NODELAY (class doc). The JDK reads the property once, when the
  // JVM's first HttpServer loads `sun.net.httpserver.ServerConfig`, hence
  // before `create`.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }))

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "text/plain; charset=utf-8"): Unit = {
    try {
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) {
        val os = ex.getResponseBody
        os.write(bytes)
        os.close()
      }
    } finally ex.close()
  }

  private def respondBytes(ex: HttpExchange, code: Int, body: Array[Byte],
      headers: Seq[(String, String)]): Unit = {
    try {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) {
        val os = ex.getResponseBody
        os.write(body)
        os.close()
      }
    } finally ex.close()
  }

  /** Per-handler request counters behind `/metrics` (every context
    * registers through [[countedContext]]). LongAdder: contended
    * increments from the worker pool, read rarely. */
  private val requestCounts =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.LongAdder]()
  private val startedAtMs = System.currentTimeMillis()

  private def countedContext(path: String,
      h: com.sun.net.httpserver.HttpHandler): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      requestCounts.computeIfAbsent(path,
        _ => new java.util.concurrent.atomic.LongAdder).increment()
      h.handle(ex)
    })

  /** Last-seen metric metadata per family, fed by the write path's
    * full-request decode — the source for `/api/v1/metadata`. In-memory
    * by design: Prometheus itself serves metadata from its scrape cache,
    * not storage, and the remote-write 1.0 spec makes metadata
    * best-effort; a restart repopulates it from the next requests. */
  private val metadataCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      graft.streaming.RemoteWrite.Metadata]()

  /** prompb MetricMetadata.MetricType ordinal → the lowercase names the
    * Prometheus metadata API serves. */
  private def metricTypeName(ord: Int): String = ord match {
    case 1 => "counter"
    case 2 => "gauge"
    case 3 => "histogram"
    case 4 => "gaugehistogram"
    case 5 => "summary"
    case 6 => "info"
    case 7 => "stateset"
    case _ => "unknown"
  }

  /** Thrown when a query's result crosses [[maxResultRows]] — mapped to a
    * 422 "execution" error envelope, never a served partial result. */
  private final class ResultTooLarge extends RuntimeException(
    s"query result exceeds $maxResultRows rows; narrow the selector, " +
      "time range, or step")

  /** Collect at most [[maxResultRows]] rows; `limit(cap+1)` runs INSIDE
    * the plan so an oversized result is detected without ever
    * materializing past cap+1 rows on the driver. */
  private def collectCapped(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxResultRows + 1).collect()
    if (rows.length > maxResultRows) throw new ResultTooLarge
    rows
  }

  /** Bounded request-body read shared by the ingest/read endpoints: trust
    * neither Content-Length (may lie or be absent under chunked encoding)
    * nor the stream itself — read AT MOST cap+1 bytes and reject before
    * buffering more (readAllBytes would stage an arbitrary body on the
    * heap first). Left((status, message)) on over-cap (413) or a
    * failed/truncated read (400); Right(bytes) otherwise. */
  private def readBoundedBody(ex: HttpExchange): Either[(Int, String), Array[Byte]] = {
    val declared = ex.getRequestHeaders.getFirst("Content-Length")
    val declaredTooBig =
      declared != null && scala.util.Try(declared.toLong).toOption
        .exists(_ > maxWriteBodyBytes)
    if (declaredTooBig)
      Left((413, s"body exceeds $maxWriteBodyBytes bytes"))
    else try {
      val b = ex.getRequestBody.readNBytes(maxWriteBodyBytes.toInt + 1)
      if (b.length > maxWriteBodyBytes)
        Left((413, s"body exceeds $maxWriteBodyBytes bytes"))
      else Right(b)
    } catch { case scala.util.control.NonFatal(_) =>
      Left((400, "empty or unreadable request body")) }
  }

  /** Thrown when a form-encoded parameter body crosses the 1 MiB cap —
    * mapped to 413, never a silently truncated (= corrupted) parameter. */
  private final class ParamBodyTooLarge extends RuntimeException(
    "form-encoded parameter body exceeds 1 MiB")

  private def errorEnvelope(e: Throwable): (Int, String) = {
    val msg = esc(Option(e.getMessage).getOrElse(e.getClass.getName))
    e match {
      case _: ResultTooLarge =>
        (422, s"""{"status":"error","errorType":"execution","error":"$msg"}""")
      case _: ParamBodyTooLarge =>
        (413, s"""{"status":"error","errorType":"bad_data","error":"$msg"}""")
      case _ =>
        (400, s"""{"status":"error","errorType":"bad_data","error":"$msg"}""")
    }
  }

  /** Decoded (key, value) pairs from the URI query string AND — for a
    * POST with a form-encoded body — the body (Grafana POSTs its query
    * and metadata requests; Prometheus accepts both spellings on every
    * API endpoint). Body reads are capped at 1 MiB — these are parameter
    * payloads, not data — and an oversized body is a 413, never a
    * silent mid-parameter truncation (which would URL-decode to a WRONG
    * selector). Repeated keys are preserved (match[] unions). */
  /** SINGLE-SHOT per exchange (the JDK request-body stream reads once):
    * handlers needing several views of the parameters parse ONCE and pass
    * the pairs to the Seq-taking overloads below — a second call here
    * within one request would silently lose every form-body parameter. */
  private def paramPairs(ex: HttpExchange): Seq[(String, String)] = {
    val fromQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val fromBody =
      if (ex.getRequestMethod == "POST" &&
          Option(ex.getRequestHeaders.getFirst("Content-Type"))
            .exists(_.startsWith("application/x-www-form-urlencoded"))) {
        val b = ex.getRequestBody.readNBytes((1 << 20) + 1)
        if (b.length > (1 << 20)) throw new ParamBodyTooLarge
        new String(b, "UTF-8")
      }
      else ""
    val pairs = Seq(fromQuery, fromBody).flatMap(_.split('&')).filter(_.nonEmpty)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }
    pairs
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    paramPairs(ex).toMap

  countedContext("/", (ex: HttpExchange) =>
    if (ex.getRequestURI.getPath == "/") respond(ex, 200, "Hello world!")
    else respond(ex, 404, "not found"))

  countedContext("/toggle", (ex: HttpExchange) => {
    // fetch_not semantics (main.rs:65-72): atomic flip via CAS, report
    // the PREVIOUS state (a read-then-set pair would let two concurrent
    // toggles both observe the same value and collapse into one flip)
    var prev = keepWriting.get()
    while (!keepWriting.compareAndSet(prev, !prev)) prev = keepWriting.get()
    respond(ex, 200, if (prev) "Stop!" else "Start write again!")
  })

  countedContext("/compact", (ex: HttpExchange) => {
    compactPool.submit(new Runnable {
      def run(): Unit =
        try compactor.runOnce()
        catch { case scala.util.control.NonFatal(e) =>
          log.warn("compact failed", e) } // main.rs:77-79 prints, not returns
    })
    respond(ex, 200, "Task submit!")
  })

  countedContext("/api/v1/write", (ex: HttpExchange) => {
    // null = over-cap 413; a failed read keeps the empty-body path (the
    // all-empty decode below answers 400 "no samples decoded")
    val body = readBoundedBody(ex) match {
      case Left((413, _)) => null
      case Left(_) => Array.emptyByteArray
      case Right(b) => b
    }
    if (ex.getRequestMethod != "POST") respond(ex, 405, "POST only")
    else if (!keepWriting.get()) respond(ex, 503, "ingest toggled off")
    else if (body == null)
      respond(ex, 413, s"write body exceeds $maxWriteBodyBytes bytes")
    else {
      // full-request decode: samples for ingest AND the request's metric
      // metadata records for the live metadata cache behind
      // /api/v1/metadata (CodecBench: full parse ≈ samples-only parse;
      // the extras are a few hundred small records per request)
      val req =
        try graft.streaming.RemoteWrite.decodeRequest(body)
        catch { case scala.util.control.NonFatal(_) =>
          graft.streaming.RemoteWrite.Request(Nil, Nil, Nil) }
      val samples = req.samples
      // Prometheus sends metadata in DEDICATED WriteRequests with zero
      // timeseries (remote-write metadata_config), and exemplar-only
      // requests are legal too — a request is undecodable only when it
      // carries nothing at all.
      if (samples.isEmpty && req.exemplars.isEmpty && req.metadata.isEmpty &&
          req.histograms.isEmpty)
        respond(ex, 400, "no samples decoded")
      else
        try {
          ingestLock.synchronized {
            // the validation decode above IS the decode — ingest the
            // samples directly instead of re-decoding the payload
            if (samples.nonEmpty)
              MetricStreamIngest.ingestDecoded(engine, spark, samples)
            // exemplars persist to the engine's exemplars table
            // (idempotent on (series, ts, exemplar labels) re-delivery)
            MetricStreamIngest.ingestExemplars(engine, spark, req.exemplars)
            // native histograms persist to the engine's histograms table
            MetricStreamIngest.ingestHistograms(engine, spark, req.histograms)
          }
          req.metadata.foreach(md => metadataCache.put(md.familyName, md))
          // remote-write 2.0 written-stats headers (required by the 2.0
          // spec on 2xx; harmless extras for 1.0 senders).
          val h = ex.getResponseHeaders
          h.set("X-Prometheus-Remote-Write-Samples-Written",
            samples.size.toString)
          h.set("X-Prometheus-Remote-Write-Histograms-Written",
            req.histograms.size.toString)
          h.set("X-Prometheus-Remote-Write-Exemplars-Written",
            req.exemplars.size.toString)
          respond(ex, 204, "")
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("remote-write ingest failed", e)
            respond(ex, 500, s"ingest failed: ${e.getMessage}")
        }
    }
  })

  /** `POST /v1/metrics` — OTLP/HTTP metrics ingest (OpenTelemetry's
    * export protocol; gauge/sum number data points → engine samples,
    * exponential-histogram points → native histograms, fixed-bucket
    * histogram points → NHCB native histograms — see
    * [[graft.streaming.Otlp]] for the scope and the OTLP→Prometheus name
    * translation). Bodies are raw or gzip protobuf
    * (`Content-Encoding: gzip`); success is 200 with an empty
    * `ExportMetricsServiceResponse` per the OTLP/HTTP spec (a request
    * whose supported-scope point set is empty is still success — spec
    * semantics for partial/empty data). Same write-body cap and toggle
    * gate as remote write. */
  countedContext("/v1/metrics", (ex: HttpExchange) => {
    val bodyOrErr = readBoundedBody(ex)
    if (ex.getRequestMethod != "POST") respond(ex, 405, "POST only")
    else if (!keepWriting.get()) respond(ex, 503, "ingest toggled off")
    else if (bodyOrErr.isLeft) {
      val (code, msg) = bodyOrErr.swap.getOrElse((400, ""))
      respond(ex, code, msg)
    }
    else {
      val body = bodyOrErr.getOrElse(Array.emptyByteArray)
      // the gzip-expansion cap mirrors the compressed-body cap: a ~64 KB
      // bomb otherwise inflates past it unbounded (DecompressedTooLarge)
      // graft.otlp.utf8Names=true switches to Prometheus 3's
      // NoUTF8EscapingWithSuffixes translation (the config-file
      // `otlp.translation_strategy` knob, as a session conf)
      val utf8Names = spark.conf
        .getOption("graft.otlp.utf8Names").contains("true")
      val decoded =
        try graft.streaming.Otlp.decodeAll(
          graft.streaming.Otlp.unframe(body, maxWriteBodyBytes), utf8Names)
        catch {
          case _: graft.streaming.Otlp.DecompressedTooLarge => null
          case scala.util.control.NonFatal(_) => null
        }
      if (decoded == null) respond(ex, 400,
        "undecodable OTLP body (or decompressed size over the write cap)")
      else
        try {
          if (decoded.samples.nonEmpty || decoded.histograms.nonEmpty ||
              decoded.exemplars.nonEmpty)
            ingestLock.synchronized {
              if (decoded.samples.nonEmpty)
                MetricStreamIngest.ingestDecoded(engine, spark, decoded.samples)
              if (decoded.histograms.nonEmpty)
                MetricStreamIngest.ingestHistograms(
                  engine, spark, decoded.histograms)
              if (decoded.exemplars.nonEmpty)
                MetricStreamIngest.ingestExemplars(
                  engine, spark, decoded.exemplars)
            }
          respondBytes(ex, 200, Array.emptyByteArray,
            Seq("Content-Type" -> "application/x-protobuf"))
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("otlp ingest failed", e)
            respond(ex, 500, s"ingest failed: ${e.getMessage}")
        }
    }
  })

  /** `POST /api/v1/read` — Prometheus remote READ: the protocol Prometheus
    * itself uses to query a remote storage backend (`remote_read:` config),
    * making this engine a drop-in long-term store behind a running
    * Prometheus. Body: snappy-framed protobuf ReadRequest (multiple
    * queries answer in order); response: snappy-framed ReadResponse with
    * SAMPLES-typed QueryResults ([[graft.streaming.RemoteRead]] carries
    * the wire layout). Read-side caps apply per query like every other
    * query endpoint; errors are plain-text 4xx (this endpoint's clients
    * speak protobuf, not the JSON envelope). */
  countedContext("/api/v1/read", (ex: HttpExchange) => {
    // a failed/truncated body read must surface as a client error — an
    // empty body decodes to ZERO queries and would otherwise answer a
    // dropped upload with a clean 200 + empty ReadResponse
    val bodyOrErr =
      if (ex.getRequestMethod != "POST") Right(Array.emptyByteArray)
      else readBoundedBody(ex)
    val body = bodyOrErr.getOrElse(Array.emptyByteArray)
    if (ex.getRequestMethod != "POST") respond(ex, 405, "POST only")
    else if (bodyOrErr.isLeft) {
      val (code, msg) = bodyOrErr.swap.getOrElse((400, ""))
      respond(ex, code, s"read failed: $msg")
    }
    else if (body.isEmpty)
      respond(ex, 400, "read failed: empty or unreadable request body")
    else try {
      import graft.streaming.RemoteRead
      val req = RemoteRead.decodeReadRequest(body)
      // negotiation per the protocol: answer with the FIRST accepted type
      // we can produce (empty accepted list = SAMPLES)
      val accepted = if (req.accepted.isEmpty) Seq(RemoteRead.Samples)
        else req.accepted
      val chosen = accepted.find(t =>
        t == RemoteRead.Samples || t == RemoteRead.StreamedXorChunks)
        .getOrElse(throw new IllegalArgumentException(
          s"client accepts only response types ${accepted.mkString(",")}; " +
            "this server serves SAMPLES (0) and STREAMED_XOR_CHUNKS (1)"))
      def seriesOf(q: RemoteRead.Query): Seq[RemoteRead.Series] = {
        val ms = q.matchers.map(RemoteRead.toPromQLMatcher)
        // remote-read bounds are inclusive; the engine's range is half-open
        val rows = collectCapped(
          engine.readRaw(ms, TimeRange(q.startMs, q.endMs + 1)))
        RemoteRead.seriesFromRows(
          rows.map(r => (r.getAs[String]("series_key"),
            r.getAs[Long]("ts_ms"), r.getAs[Double]("value"))).toSeq,
          graft.metric.MetricEngine.parseSeriesKey)
      }
      if (chosen == RemoteRead.StreamedXorChunks) {
        // TRUE streaming (round 12): one frame per series (uvarint len +
        // CRC32C + marshaled ChunkedReadResponse; NOT snappy-compressed
        // per the protocol), flushed to the chunked HTTP stream as each
        // series completes — the server holds at most one series, never
        // the response. Plans (and their analysis errors) materialize
        // BEFORE the 200 commits; a mid-stream execution failure can no
        // longer change the status, so the stream truncates and the
        // client's CRC/length check rejects the tail — the protocol's
        // own failure mode (Prometheus's server behaves the same).
        val qIters: Seq[Iterator[(String, Long, Double)]] =
          req.queries.map { q =>
            val ms = q.matchers.map(RemoteRead.toPromQLMatcher)
            val df = engine.readRaw(ms, TimeRange(q.startMs, q.endMs + 1))
              .select("series_key", "ts_ms", "value")
              .orderBy("series_key", "ts_ms")
            new Iterator[(String, Long, Double)] {
              // the per-query row cap, enforced incrementally (the
              // buffered path's collectCapped analog)
              private var n = 0L
              private lazy val it = df.toLocalIterator()
              def hasNext: Boolean = it.hasNext
              def next(): (String, Long, Double) = {
                n += 1
                if (n > maxResultRows) throw new ResultTooLarge
                val r = it.next()
                (r.getString(0), r.getLong(1), r.getDouble(2))
              }
            }
          }
        ex.getResponseHeaders.add("Content-Type",
          RemoteRead.ChunkedContentType)
        ex.sendResponseHeaders(200, 0L) // 0 = chunked transfer encoding
        val os = ex.getResponseBody
        try
          RemoteRead.streamChunked(qIters,
            graft.metric.MetricEngine.parseSeriesKey,
            bytes => { os.write(bytes); os.flush() })
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("chunked remote-read stream aborted mid-flight", e)
            // A failure that lands exactly ON a frame boundary (the
            // row-cap check usually does — it throws before the next
            // series' first frame) would otherwise end the chunked
            // response CLEANLY, and the client would mistake truncation
            // for completion. Write a deliberately unfinishable frame —
            // a uvarint length with no payload — so the client's
            // framing/CRC check rejects the tail in every case; a
            // secondary IO failure here means the client is already
            // gone, which aborts just as loudly.
            try { os.write(0x7f); os.flush() }
            catch { case scala.util.control.NonFatal(_) => () }
        } finally os.close()
      } else {
        val results = req.queries.map(seriesOf)
        val encoded = org.xerial.snappy.Snappy.compress(
          RemoteRead.encodeResponse(results))
        respondBytes(ex, 200, encoded, Seq(
          "Content-Type" -> "application/x-protobuf",
          "Content-Encoding" -> "snappy"))
      }
    } catch {
      case e: ResultTooLarge => respond(ex, 422, s"read failed: ${e.getMessage}")
      case scala.util.control.NonFatal(e) =>
        respond(ex, 400, s"read failed: " +
          Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  })

  countedContext("/query", (ex: HttpExchange) => {
    // queryParams itself can throw (malformed percent-encoding in the raw
    // query string) — it must land as a 400, not a handler exception the
    // JDK server swallows into a dropped connection
    try {
      val p = queryParams(ex)
      p.get("promql") match {
        case None => respond(ex, 400, "missing promql parameter")
        case Some(expr) =>
          val range = TimeRange(
            p.get("start").map(_.toLong).getOrElse(Long.MinValue),
            p.get("end").map(_.toLong).getOrElse(Long.MaxValue))
          val step = p.get("step").map(_.toLong)
          // same cap as the API endpoints, same limit-before-collect shape
          // (toJSON keeps the serialization distributed; only ≤cap+1 JSON
          // strings ever reach the driver)
          val rows = engine.queryPromQL(expr, range, step)
            .toJSON.limit(maxResultRows + 1).collect()
          if (rows.length > maxResultRows) throw new ResultTooLarge
          respond(ex, 200, rows.mkString("[", ",", "]"),
            contentType = "application/json")
      }
    } catch {
      case e: ResultTooLarge => respond(ex, 422, s"query failed: ${e.getMessage}")
      case scala.util.control.NonFatal(e) =>
        respond(ex, 400, s"query failed: ${e.getMessage}")
    }
  })

  /** Prometheus HTTP-API-shaped range query (`/api/v1/query_range?query=…
    * &start=…&end=…&step=…`, seconds like Prometheus, step also taking
    * `30s`/`5m`/`1h`/`1d`): the same evaluator as `/query`, wrapped in the
    * standard response envelope (`status`/`data`/`resultType: "matrix"`/
    * per-series `metric` + `values`) so Prometheus-speaking clients
    * (Grafana, promtool) can consume the engine directly. Known
    * deviations, consistent with PROMQL.md: values stringify with the
    * JVM's double formatting (not Go `%g`), and a step that disagrees
    * with a range-function window is rejected rather than re-sampled. */
  countedContext("/api/v1/query_range", (ex: HttpExchange) => {
    try {
      val p = queryParams(ex)
      def need(k: String): String = p.getOrElse(k,
        throw new IllegalArgumentException(s"missing $k parameter"))
      val expr = need("query")
      val startMs = (need("start").toDouble * 1000.0).toLong
      val endMs = (need("end").toDouble * 1000.0).toLong
      val stepMs = parseStep(need("step"))
      require(endMs >= startMs, "end must be >= start")
      // Prometheus ranges are end-INCLUSIVE; the engine's are half-open
      val df = engine.queryPromQL(expr,
        TimeRange(startMs, endMs + 1), Some(stepMs))
      val cols = df.columns
      val tsCol =
        if (cols.contains("bucket_ms")) Some("bucket_ms")
        else if (cols.contains("ts_ms")) Some("ts_ms")
        else None
      // Series identity: the label columns, PLUS tsid when the frame
      // carries one (raw selector results are per-series by tsid — without
      // it every series of the metric would collapse into one matrix
      // entry with interleaved timestamps). tsid then shows as a label so
      // matrix series stay unique as Prometheus requires.
      val labelCols = (cols.filter(c =>
        c != "value" && !tsCol.contains(c)).sorted).toSeq
      val rows = collectCapped(df).filter(!_.isNullAt(df.columns.indexOf("value")))
      val series = rows.groupBy(r => labelCols.map(c =>
          c -> Option(r.getAs[Any](c)).map(_.toString).getOrElse("")))
        .toSeq.sortBy(_._1.map { case (k, v) => s"$k=$v" }.mkString(","))
        .map { case (labels, rs) =>
          val metric = labels.filter(_._2.nonEmpty).map { case (k, v) =>
            s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
          val values = rs.map { r =>
            val tsSec = tsCol.map(c => r.getAs[Long](c) / 1000.0)
              .getOrElse(endMs / 1000.0)
            (tsSec, r.getAs[Double]("value"))
          }.sortBy(_._1)
            .map { case (t, v) => s"""[${fmtTs(t)},"$v"]""" }
            .mkString("[", ",", "]")
          s"""{"metric":$metric,"values":$values}"""
        }
      val (kept, warn) = truncateSeries(series, p.get("limit"))
      respond(ex, 200,
        s"""{"status":"success"$warn,"data":{"resultType":"matrix","result":${
          kept.mkString("[", ",", "]")}}}""",
        contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        // null messages (NPEs) and control characters must still produce
        // a VALID error envelope, not a dropped connection / broken JSON
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** Prometheus `limit` parameter on the query endpoints (0 or absent =
    * unlimited): truncate the SERIES list and carry the standard warning
    * — data-shaping, not an error, exactly Prometheus's behavior. */
  private def truncateSeries(series: Seq[String],
      limitParam: Option[String]): (Seq[String], String) = {
    val lim = limitParam.map(_.toInt).getOrElse(0)
    require(lim >= 0, s"limit must be non-negative, got $lim")
    if (lim == 0 || series.length <= lim) (series, "")
    else (series.take(lim),
      ""","warnings":["results truncated due to limit"]""")
  }

  /** Prometheus instant query (`GET /api/v1/query?query=…[&time=…]`) — the
    * first endpoint every Prometheus client (Grafana Explore, promtool)
    * calls. `time` is optional unix seconds (float accepted), defaulting
    * to the server's now. Evaluation is [[MetricEngine.instantPromQL]]:
    * exact lookback-delta semantics for windowless expressions, the
    * documented tumbling-window deviation for windowed ones. The response
    * is the standard envelope with `resultType: "vector"`; per Prometheus,
    * every value pair carries the EVALUATION time, not sample times. */
  countedContext("/api/v1/query", (ex: HttpExchange) => {
    val path = ex.getRequestURI.getPath
    if (path != "/api/v1/query") respond(ex, 404, "not found")
    else try {
      val p = queryParams(ex)
      val expr = p.getOrElse("query",
        throw new IllegalArgumentException("missing query parameter"))
      val timeMs = p.get("time")
        .map(t => (t.toDouble * 1000.0).toLong)
        .getOrElse(System.currentTimeMillis())
      val df = engine.instantPromQL(expr, timeMs, lookbackMs)
      val valueIdx = df.columns.indexOf("value")
      val labelCols = df.columns.filter(c =>
        c != "value" && c != "ts_ms").sorted.toSeq
      val tSec = timeMs / 1000.0
      val result = collectCapped(df).filter(!_.isNullAt(valueIdx))
        .map { r =>
          val metric = labelCols.flatMap { c =>
            Option(r.getAs[Any](c)).map(_.toString).filter(_.nonEmpty)
              .map(v => s""""${esc(c)}":"${esc(v)}"""")
          }.mkString("{", ",", "}")
          (metric, r.getAs[Double]("value"))
        }
        .sortBy(_._1)
        .map { case (metric, v) =>
          s"""{"metric":$metric,"value":[${fmtTs(tSec)},"$v"]}""" }
      val (kept, warn) = truncateSeries(result, p.get("limit"))
      respond(ex, 200,
        s"""{"status":"success"$warn,"data":{"resultType":"vector","result":${
          kept.mkString("[", ",", "]")}}}""",
        contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** Every `match[]` parameter of the request (query string or POST
    * form), URL-decoded — the Prometheus metadata-endpoint scoping
    * selectors (repeated params union; Map-shaped [[queryParams]] would
    * keep only the last). */
  private def matchSelectors(ex: HttpExchange): Seq[String] =
    matchSelectors(paramPairs(ex))

  private def matchSelectors(pairs: Seq[(String, String)]): Seq[String] =
    pairs.collect { case ("match[]", v) => v }

  /** Prometheus `limit` parameter on the metadata endpoints: truncate the
    * result to n entries (0 or absent = unlimited, Prometheus semantics).
    * Truncation is silent like Prometheus's (a `warnings` entry there,
    * nothing result-changing). */
  private def limitParam(pairs: Seq[(String, String)]): Int = {
    val n = pairs.collectFirst { case ("limit", v) => v.toInt }.getOrElse(0)
    require(n >= 0, s"limit must be non-negative, got $n")
    if (n == 0) Int.MaxValue else n
  }

  /** Prometheus metadata endpoints — the pair Grafana's query builder
    * calls for completion: `GET /api/v1/labels` (label names, plus
    * `__name__`) and `GET /api/v1/label/<name>/values` (that label's
    * values; `__name__` resolves to the metric-name dictionary). Without
    * `match[]` both answer from the engine's series catalog and metric
    * dictionary (the tags/metrics tables above their caps) — never the
    * data table. With `match[]` selectors they narrow to the matching
    * series' decoded label sets ([[MetricEngine.seriesFor]], the same
    * series walk `/api/v1/series` uses; multiple selectors union,
    * Prometheus semantics). */
  countedContext("/api/v1/labels", (ex: HttpExchange) => {
    try {
      val pairs = paramPairs(ex)
      val sels = matchSelectors(pairs)
      val all =
        if (sels.nonEmpty)
          // seriesFor's label sets already carry __name__
          sels.flatMap(engine.seriesFor(_)).distinct
            .flatMap(_.keys).distinct.sorted
        else
          // sorted by MetricEngine.labelKeys; a limit caps it in the plan
          engine.labelKeys(limitParam(pairs))
            .collect().map(_.getString(0)).toSeq
      respond(ex, 200,
        all.take(limitParam(pairs)).map(n => s""""${esc(n)}"""")
          .mkString("""{"status":"success","data":[""", ",", "]}"),
        contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  countedContext("/api/v1/label", (ex: HttpExchange) => {
    try {
      // path shape: /api/v1/label/<name>/values
      val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      if (parts.length != 5 || parts(4) != "values")
        respond(ex, 404, "expected /api/v1/label/<name>/values")
      else {
        val label = java.net.URLDecoder.decode(parts(3), "UTF-8")
        val pairs = paramPairs(ex)
        val sels = matchSelectors(pairs)
        val lim = limitParam(pairs)
        // no-selector arm: sorted by MetricEngine.labelValues, a limit
        // capping it in the plan; above the catalog cap a high-cardinality
        // label never stages its full value dictionary on the driver
        val values: Seq[String] =
          if (sels.nonEmpty)
            sels.flatMap(engine.seriesFor(_)).distinct
              .flatMap(_.get(label)).distinct.sorted.take(lim)
          else
            engine.labelValues(label, lim)
              .collect().map(_.getString(0)).toSeq
        respond(ex, 200,
          values.map(v => s""""${esc(v)}"""")
            .mkString("""{"status":"success","data":[""", ",", "]}"),
          contentType = "application/json")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** `GET /api/v1/series?match[]=<selector>` — series discovery: decoded
    * label sets of every series matching the selector, in the standard
    * envelope. Multiple `match[]` parameters union (Prometheus
    * semantics); results come from the engine's series catalog (the series
    * meta table above its cap). */
  countedContext("/api/v1/series", (ex: HttpExchange) => {
    try {
      val pairs = paramPairs(ex)
      val selectors = matchSelectors(pairs)
      if (selectors.isEmpty)
        respond(ex, 400, s"""{"status":"error","errorType":"bad_data",""" +
          """"error":"missing match[] parameter"}""",
          contentType = "application/json")
      else {
        val sets = selectors.flatMap(engine.seriesFor(_)).distinct
          .take(limitParam(pairs))
        val body = sets.map(m =>
            m.toSeq.sortBy(_._1).map { case (k, v) =>
              s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}"))
          .mkString("""{"status":"success","data":[""", ",", "]}")
        respond(ex, 200, body, contentType = "application/json")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** `GET|POST /api/v1/query_exemplars?query=<selector>&start=…&end=…` —
    * exemplars of the matching series in the range, grouped per series
    * with decoded label sets, Prometheus envelope (`seriesLabels` +
    * `exemplars` of {labels, value, timestamp}). Served from the durable
    * exemplars table ([[MetricEngine.queryExemplars]]); result capped
    * like every read path. */
  countedContext("/api/v1/query_exemplars", (ex: HttpExchange) => {
    try {
      val p = queryParams(ex)
      def need(k: String): String = p.getOrElse(k,
        throw new IllegalArgumentException(s"missing $k parameter"))
      val selector = need("query")
      val startMs = (need("start").toDouble * 1000.0).toLong
      val endMs = (need("end").toDouble * 1000.0).toLong
      require(endMs >= startMs, "end must be >= start")
      val df = engine.queryExemplars(selector,
        TimeRange(startMs, endMs + 1)) // Prometheus ranges are end-inclusive
      val rows = collectCapped(df)
      val bySeries = rows.groupBy(_.getAs[String]("series_key")).toSeq
        .sortBy(_._1)
        .map { case (key, rs) =>
          val (name, labels) = graft.metric.MetricEngine.parseSeriesKey(key)
          val seriesJson = ((("__name__", name) +: labels.toSeq.sortBy(_._1))
            .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" })
            .mkString("{", ",", "}")
          val exs = rs.sortBy(_.getAs[Long]("ts_ms")).map { r =>
            val li = r.fieldIndex("labels")
            val ls: Map[String, String] =
              if (r.isNullAt(li)) Map.empty
              else r.getMap[String, String](li).toMap
            val lsJson = ls.toSeq.sortBy(_._1).map { case (k, v) =>
              s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
            s"""{"labels":$lsJson,"value":"${r.getAs[Double]("value")}",""" +
              s""""timestamp":${fmtTs(r.getAs[Long]("ts_ms") / 1000.0)}}"""
          }.mkString("[", ",", "]")
          s"""{"seriesLabels":$seriesJson,"exemplars":$exs}"""
        }
      respond(ex, 200,
        s"""{"status":"success","data":${bySeries.mkString("[", ",", "]")}}""",
        contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** `GET|POST /federate?match[]=<selector>…` — Prometheus hierarchical
    * federation: the newest sample per matching series within the
    * lookback delta, in the text exposition format (version 0.0.4;
    * `name{labels} value timestamp_ms`, label values escaped, series
    * sorted deterministically). A higher-level Prometheus scrapes this
    * endpoint directly via its `honor_labels` federation config.
    * Multiple `match[]` selectors union; overlapping matches dedup by
    * series (Prometheus semantics). Same result cap as every read. */
  countedContext("/federate", (ex: HttpExchange) => {
    if (ex.getRequestURI.getPath != "/federate") respond(ex, 404, "not found")
    else if (ex.getRequestMethod != "GET" && ex.getRequestMethod != "POST")
      respond(ex, 405, "GET or POST only")
    else try {
      val sels = matchSelectors(ex)
      if (sels.isEmpty)
        respond(ex, 400, "missing match[] parameter")
      else {
        val nowMs = System.currentTimeMillis()
        val perSeries = scala.collection.mutable.LinkedHashMap
          .empty[String, (Long, Double)]
        sels.foreach { sel =>
          collectCapped(engine.federate(sel, nowMs, lookbackMs)).foreach { r =>
            val key = r.getAs[String]("series_key")
            if (!perSeries.contains(key))
              perSeries(key) = (r.getAs[Long]("ts_ms"), r.getAs[Double]("value"))
          }
          // the cap is a REQUEST budget: per-selector collects each pass
          // limit(n+1), but N selectors must not accumulate N x cap rows
          // in this map (the exact driver-OOM the cap exists to prevent)
          if (perSeries.size > maxResultRows) throw new ResultTooLarge
        }
        def escLabel(s: String): String = s.flatMap {
          case '\\' => "\\\\"
          case '"' => "\\\""
          case '\n' => "\\n"
          case c => c.toString
        }
        // UTF-8 exposition is NEGOTIATED, exactly like Prometheus 3: the
        // quoted-name syntax ({"svc.req.duration",job="api"}) is emitted
        // only when the scraper's Accept header carries
        // escaping=allow-utf-8 (echoed back in the Content-Type); any
        // other client — Prom 2.x, or Prom 3 under legacy validation —
        // gets version-0.0.4 lines with non-classic names/label keys
        // UNDERSCORE-ESCAPED (Prometheus's default escaping scheme), so
        // one dotted series can never break the whole scrape for an
        // older federating server.
        val allowUtf8 = Option(ex.getRequestHeaders.getFirst("Accept"))
          .exists(_.replace(" ", "").contains("escaping=allow-utf-8"))
        import graft.promql.PromQLPrinter.{isClassicMetricName, isClassicLabelName}
        // order by (name, labels) so one metric's lines stay a contiguous
        // group (exposition-format requirement — a full-line sort would
        // interleave 'cpu ...' / 'cpu_total ...' / 'cpu{...}')
        val lines = perSeries.toSeq
          .map { case (key, (ts, v)) =>
            val (name0, labels) = graft.metric.MetricEngine.parseSeriesKey(key)
            val name = if (allowUtf8 || isClassicMetricName(name0)) name0
                       else graft.streaming.Otlp.sanitizeName(name0)
            // Prometheus 3 UTF-8 exposition: a non-classic metric name
            // moves INSIDE the braces as a quoted element, and
            // non-classic label names quote — the only spellings a
            // 3.x federating scraper parses back
            val classicName = isClassicMetricName(name)
            def lkey(k: String) =
              if (isClassicLabelName(k)) k
              else if (allowUtf8) s""""${escLabel(k)}""""
              else graft.streaming.Otlp.sanitizeLabel(k)
            // within ONE series, two label KEYS can sanitize to the same
            // classic spelling ('a.b' and 'a_b' both -> 'a_b') — keep the
            // first in sorted order; a line with duplicate label names
            // would make the federating scraper reject the exposition
            val seenKeys = scala.collection.mutable.Set.empty[String]
            val labelItems = labels.toSeq.sortBy(_._1).flatMap {
              case (k, lv) =>
                val kk = lkey(k)
                if (seenKeys.add(kk)) Some(s"""$kk="${escLabel(lv)}"""")
                else None
            }
            val items =
              (if (classicName) Nil else Seq(s""""${escLabel(name)}"""")) ++
              labelItems
            val labelStr =
              if (items.isEmpty) "" else items.mkString("{", ",", "}")
            val line =
              if (classicName) s"$name$labelStr $v $ts"
              else s"$labelStr $v $ts"
            (name, labelStr, line, ts)
          }
          // sanitizing can also collide two DISTINCT series ('a.b' vs
          // 'a_b' metrics/labelsets) onto one escaped (name, labelset) —
          // duplicate samples a federating Prometheus rejects or drops.
          // Keep the newest sample per escaped identity (Prometheus's
          // duplicate-series handling after escaping); under
          // allow-utf-8 the quoted spellings stay distinct and this
          // grouping is an exact no-op.
          .groupBy { case (name, labelStr, _, _) => (name, labelStr) }
          .values.map(_.maxBy(_._4)).toSeq
          .sortBy { case (name, labelStr, _, _) => (name, labelStr) }
          .map(_._3)
        respond(ex, 200, lines.mkString("", "\n", "\n"),
          contentType = "text/plain; version=0.0.4; charset=utf-8" +
            (if (allowUtf8) "; escaping=allow-utf-8" else ""))
      }
    } catch {
      case e: ResultTooLarge => respond(ex, 422, s"federate failed: ${e.getMessage}")
      case e: ParamBodyTooLarge => respond(ex, 413, s"federate failed: ${e.getMessage}")
      case scala.util.control.NonFatal(e) =>
        respond(ex, 400, "federate failed: " +
          Option(e.getMessage).getOrElse(e.getClass.getName))
    }
  })

  /** `GET /api/v1/status/buildinfo` — Grafana probes it at datasource
    * setup to pick the query feature set; a 404 degrades Explore. Served
    * as a Prometheus-2.x-compatible engine identifying itself as graft in
    * the revision field. */
  // ---- rules / alerts (RuleEngine surface) --------------------------

  private def mapJson(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")

  /** RFC3339 UTC instants for the rules API (`Instant.toString` is
    * RFC3339 with millisecond precision); 0 = never evaluated, rendered
    * as the epoch like an unset Prometheus timestamp. */
  private def rfc3339(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  private def alertJson(a: RuleEngine.AlertInstance,
      annotations: Map[String, String]): String = {
    val expanded = annotations.map { case (k, v) =>
      k -> RuleEngine.expandTemplate(v, a.labels, a.value) }
    s"""{"labels":${mapJson(a.labels)},"annotations":${mapJson(expanded)},""" +
      s""""state":"${a.state}","activeAt":"${rfc3339(a.activeAtMs)}",""" +
      s""""value":"${a.value}"}"""
  }

  /** `GET /api/v1/rules` — configured rule groups with per-rule health and
    * active alerts, the Prometheus rules API shape (recording rules carry
    * `type: "recording"`, alerting rules `type: "alerting"` + state +
    * alert instances). Served from the RuleEngine's driver-side state —
    * no Spark job. */
  countedContext("/api/v1/rules", (ex: HttpExchange) => {
    try {
      // Prometheus `type` filter: alert | record | absent = both
      val typeFilter = queryParams(ex).get("type")
      typeFilter.foreach(t => require(t == "alert" || t == "record",
        s"type must be 'alert' or 'record', got '$t'"))
      val body = ruleEngine match {
        case None => """{"status":"success","data":{"groups":[]}}"""
        case Some(re) =>
          val gs = re.groups.map { g =>
            val rs = g.rules.zipWithIndex.filter { case (r, _) =>
              typeFilter.forall {
                case "alert" => r.isInstanceOf[AlertingRule]
                case _ => r.isInstanceOf[RecordingRule]
              }
            }.map { case (r, i) =>
              val h = re.healthOf(g.name, i)
              val common = s""""name":"${esc(r.name)}","query":"${esc(r.expr)}",""" +
                s""""labels":${mapJson(r.labels)},"health":"${h.health}",""" +
                s""""lastError":"${esc(h.lastError.getOrElse(""))}",""" +
                s""""evaluationTime":${h.durationMs / 1000.0},""" +
                s""""lastEvaluation":"${rfc3339(h.lastEvalMs)}""""
              r match {
                case _: RecordingRule => s"""{"type":"recording",$common}"""
                case al: AlertingRule =>
                  val alerts = re.activeAlerts(g.name, i)
                    .map(alertJson(_, al.annotations)).mkString("[", ",", "]")
                  s"""{"type":"alerting","duration":${al.forMs / 1000.0},""" +
                    s""""keepFiringFor":${al.keepFiringForMs / 1000.0},""" +
                    s""""annotations":${mapJson(al.annotations)},""" +
                    s""""state":"${re.ruleState(g.name, i)}",""" +
                    s""""alerts":$alerts,$common}"""
              }
            }.mkString("[", ",", "]")
            s"""{"name":"${esc(g.name)}","file":"","interval":${
              g.intervalMs / 1000.0},"limit":0,"rules":$rs,""" +
              s""""lastEvaluation":"${rfc3339(re.lastEvalOf(g.name))}"}"""
          }.mkString("[", ",", "]")
          s"""{"status":"success","data":{"groups":$gs}}"""
      }
      respond(ex, 200, body, contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** `GET /api/v1/alerts` — every active alert instance across all rules
    * (the flat Prometheus alerts API). */
  countedContext("/api/v1/alerts", (ex: HttpExchange) => {
    try {
      val alerts = ruleEngine.toSeq.flatMap { re =>
        re.groups.flatMap { g =>
          g.rules.zipWithIndex.collect { case (al: AlertingRule, i) =>
            re.activeAlerts(g.name, i).map(alertJson(_, al.annotations))
          }.flatten
        }
      }
      respond(ex, 200,
        alerts.mkString("""{"status":"success","data":{"alerts":[""", ",", "]}}"),
        contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** `GET|POST /api/v1/format_query?query=…` — the Prometheus query
    * formatter: parse, pretty-print in canonical form
    * ([[graft.promql.PromQLPrinter]]), return the text as `data`.
    * Purely driver-side (no Spark job); a parse error is the standard
    * 400 "bad_data" envelope like Prometheus. */
  countedContext("/api/v1/format_query", (ex: HttpExchange) => {
    try {
      val q = queryParams(ex).getOrElse("query",
        throw new IllegalArgumentException("missing query parameter"))
      val formatted = graft.promql.PromQLPrinter.print(
        graft.promql.PromQLParser.parse(q))
      respond(ex, 200,
        s"""{"status":"success","data":"${esc(formatted)}"}""",
        contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** `GET /metrics` — the server's OWN telemetry in the text exposition
    * format (version 0.0.4), so a graft deployment is scraped and
    * monitored like any Prometheus component: per-handler request
    * counters, ingest gate state, rule-evaluation counters, process
    * uptime/start time, and JVM heap gauges. All driver-side counter
    * reads — no Spark job. */
  countedContext("/metrics", (ex: HttpExchange) => {
    val sb = new StringBuilder
    def line(s: String): Unit = { sb.append(s).append('\n'); () }
    line("# HELP graft_http_requests_total Requests received per handler.")
    line("# TYPE graft_http_requests_total counter")
    locally {
      import scala.jdk.CollectionConverters._
      requestCounts.asScala.toSeq.sortBy(_._1).foreach { case (p, n) =>
        line(s"""graft_http_requests_total{handler="${esc(p)}"} ${n.sum()}""")
      }
    }
    line("# HELP graft_ingest_enabled Whether the write gate is open.")
    line("# TYPE graft_ingest_enabled gauge")
    line(s"graft_ingest_enabled ${if (keepWriting.get()) 1 else 0}")
    ruleEngine.foreach { re =>
      line("# HELP graft_rule_evaluations_total Rule evaluations run.")
      line("# TYPE graft_rule_evaluations_total counter")
      line(s"graft_rule_evaluations_total ${re.evaluationsTotal}")
      line("# HELP graft_rule_evaluation_failures_total Failed rule evaluations.")
      line("# TYPE graft_rule_evaluation_failures_total counter")
      line(s"graft_rule_evaluation_failures_total ${re.evaluationFailuresTotal}")
    }
    rollupScheduler.foreach { rs =>
      line("# HELP graft_rollup_refresh_failures_total Failed rollup refresh ticks.")
      line("# TYPE graft_rollup_refresh_failures_total counter")
      line(s"graft_rollup_refresh_failures_total ${rs.refreshFailuresTotal}")
      line("# HELP graft_rollup_compaction_failures_total Failed rollup-store compaction ticks.")
      line("# TYPE graft_rollup_compaction_failures_total counter")
      line(s"graft_rollup_compaction_failures_total ${rs.compactionFailuresTotal}")
    }
    line("# HELP process_start_time_seconds Start time of the process.")
    line("# TYPE process_start_time_seconds gauge")
    line(s"process_start_time_seconds ${startedAtMs / 1000.0}")
    val rt = Runtime.getRuntime
    line("# HELP jvm_memory_bytes_used Used heap bytes.")
    line("# TYPE jvm_memory_bytes_used gauge")
    line(s"jvm_memory_bytes_used ${rt.totalMemory() - rt.freeMemory()}")
    line("# HELP jvm_memory_bytes_max Max heap bytes.")
    line("# TYPE jvm_memory_bytes_max gauge")
    line(s"jvm_memory_bytes_max ${rt.maxMemory()}")
    respond(ex, 200, sb.toString,
      contentType = "text/plain; version=0.0.4; charset=utf-8")
  })

  // Kubernetes-style probes (Prometheus `/-/healthy`, `/-/ready`).
  countedContext("/-/healthy", (ex: HttpExchange) =>
    respond(ex, 200, "Graft is Healthy.\n"))
  countedContext("/-/ready", (ex: HttpExchange) =>
    respond(ex, 200, "Graft is Ready.\n"))

  /** `GET /api/v1/status/tsdb` — cardinality statistics (the Prometheus
    * TSDB status API Grafana's "explore cardinality" views call). Head
    * stats + four top-10 lists, each ONE distributed aggregation over the
    * small meta tables (series/tags/index) — never the data table; min/max
    * time come from the manifest's SST ranges (a driver-side read).
    * `memoryInBytesByLabelName` approximates bytes as the summed UTF-16
    * value lengths across that label's index rows (we store no per-label
    * heap accounting; documented approximation). */
  countedContext("/api/v1/status/tsdb", (ex: HttpExchange) => {
    try {
      import graft.storage.ScanRequest
      import org.apache.spark.sql.functions.{col, countDistinct, sum => sqlSum,
        length => sqlLength, concat_ws, count => sqlCount, lit}
      def top10(df: org.apache.spark.sql.DataFrame): String =
        df.orderBy(col("value").desc, col("name")).limit(10).collect()
          .map(r => s"""{"name":"${esc(r.getString(0))}","value":${r.getLong(1)}}""")
          .mkString("[", ",", "]")
      val numSeries = engine.series
        .scan(ScanRequest(projection = Some(Seq("tsid")))).distinct().count()
      val tagPairs = engine.tags
        .scan(ScanRequest(projection = Some(Seq("tag_key", "tag_value"))))
        .distinct()
      val numLabelPairs = tagPairs.count()
      val ssts = engine.data.plannedSsts(ScanRequest())
      val (minT, maxT) =
        if (ssts.isEmpty) (0L, 0L)
        else (ssts.map(_.timeRange.start).min, ssts.map(_.timeRange.end).max)
      val byMetric = top10(engine.series
        .scan(ScanRequest(projection = Some(Seq("metric_id", "tsid"))))
        .join(engine.metrics.scan(ScanRequest(
          projection = Some(Seq("metric_name", "metric_id")))), Seq("metric_id"))
        .groupBy(col("metric_name").as("name"))
        .agg(countDistinct(col("tsid")).as("value")))
      val byLabelValues = top10(tagPairs.groupBy(col("tag_key").as("name"))
        .agg(countDistinct(col("tag_value")).as("value")))
      val idx = engine.index.scan(ScanRequest(
        projection = Some(Seq("tag_key", "tag_value", "tsid"))))
      val byPair = top10(idx
        .groupBy(concat_ws("=", col("tag_key"), col("tag_value")).as("name"))
        .agg(countDistinct(col("tsid")).as("value")))
      val byBytes = top10(idx.groupBy(col("tag_key").as("name"))
        .agg(sqlSum(sqlLength(col("tag_value")).cast("long") * lit(2L)).as("value")))
      // graft extension: rollup maintenance health (a dead refresher
      // silently un-routes every rollup query — surface it here next to
      // the counters on /metrics). Extra keys don't break Prometheus
      // API clients, which read only the fields they know.
      val rollupHealth = rollupScheduler.map { rs =>
        def errJson(o: Option[String]) =
          o.map(s => s""""${esc(s)}"""").getOrElse("null")
        val fresh = rollups.forall(_.isFresh)
        s""","graftRollupHealth":{"fresh":$fresh,""" +
          s""""refreshFailuresTotal":${rs.refreshFailuresTotal},""" +
          s""""compactionFailuresTotal":${rs.compactionFailuresTotal},""" +
          s""""lastRefreshError":${errJson(rs.lastRefreshError)},""" +
          s""""lastCompactionError":${errJson(rs.lastCompactionError)}}"""
      }.getOrElse("")
      respond(ex, 200,
        s"""{"status":"success","data":{"headStats":{"numSeries":$numSeries,""" +
          s""""numLabelPairs":$numLabelPairs,"chunkCount":${ssts.length},""" +
          s""""minTime":$minT,"maxTime":$maxT},""" +
          s""""seriesCountByMetricName":$byMetric,""" +
          s""""labelValueCountByLabelName":$byLabelValues,""" +
          s""""memoryInBytesByLabelName":$byBytes,""" +
          s""""seriesCountByLabelValuePair":$byPair$rollupHealth}}""",
        contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** `GET /api/v1/status/flags` + `/api/v1/status/runtimeinfo` — the two
    * remaining status probes Grafana's datasource health check may issue.
    * Flags reports the engine's actual serving configuration under the
    * Prometheus flag names; runtimeinfo reports real process facts. */
  countedContext("/api/v1/status/flags", (ex: HttpExchange) =>
    respond(ex, 200,
      s"""{"status":"success","data":{""" +
        s""""query.lookback-delta":"${lookbackMs / 1000}s",""" +
        s""""query.max-samples":"$maxResultRows",""" +
        s""""storage.tsdb.retention.time":"0s",""" +
        s""""web.enable-remote-write-receiver":"true"}}""",
      contentType = "application/json"))

  countedContext("/api/v1/status/runtimeinfo", (ex: HttpExchange) =>
    respond(ex, 200,
      s"""{"status":"success","data":{""" +
        s""""startTime":"${rfc3339(startedAtMs)}",""" +
        s""""CWD":"${esc(System.getProperty("user.dir"))}",""" +
        s""""reloadConfigSuccess":true,"lastConfigTime":"${
          rfc3339(startedAtMs)}",""" +
        s""""goroutineCount":${Thread.activeCount()},""" +
        s""""GOMAXPROCS":${Runtime.getRuntime.availableProcessors()},""" +
        s""""storageRetention":"0s"}}""",
      contentType = "application/json"))

  /** `GET /api/v1/targets` — no scrape machinery exists (ingest is push:
    * remote write / OTLP), so the target lists are empty, exactly what
    * Prometheus returns with no scrape configs. */
  countedContext("/api/v1/targets", (ex: HttpExchange) =>
    respond(ex, 200,
      """{"status":"success","data":{"activeTargets":[],"droppedTargets":[]}}""",
      contentType = "application/json"))

  countedContext("/api/v1/status/buildinfo", (ex: HttpExchange) =>
    respond(ex, 200,
      """{"status":"success","data":{"version":"2.54.0",""" +
        """"revision":"graft","branch":"","buildUser":"","buildDate":"",""" +
        """"goVersion":""}}""",
      contentType = "application/json"))

  /** `GET /api/v1/metadata[?metric=…][&limit=…]` — metric help/type/unit
    * per family, from the [[metadataCache]] the write path maintains
    * (Prometheus serves this from its scrape cache, same lifecycle).
    * Shape: `data.<family> = [{type, help, unit}]`. */
  countedContext("/api/v1/metadata", (ex: HttpExchange) => {
    try {
      val p = queryParams(ex)
      val wanted = p.get("metric")
      val limit = p.get("limit").map(_.toInt).getOrElse(Int.MaxValue)
      val entries = {
        import scala.jdk.CollectionConverters._
        metadataCache.asScala.toSeq
          .filter { case (fam, _) => wanted.forall(_ == fam) }
          .sortBy(_._1).take(limit)
      }
      val body = entries.map { case (fam, md) =>
        s""""${esc(fam)}":[{"type":"${metricTypeName(md.metricType)}",""" +
          s""""help":"${esc(md.help)}","unit":"${esc(md.unit)}"}]"""
      }.mkString("""{"status":"success","data":{""", ",", "}}")
      respond(ex, 200, body, contentType = "application/json")
    } catch {
      case scala.util.control.NonFatal(e) =>
        val (code, body) = errorEnvelope(e)
        respond(ex, code, body, contentType = "application/json")
    }
  })

  /** Envelope timestamps as plain decimal seconds ("1723680002",
    * "1723680002.5") — epoch seconds exceed 1e7, where Double.toString
    * switches to scientific notation ("1.723680002E9"), which Prometheus
    * clients don't parse as a timestamp. */
  private def fmtTs(tSec: Double): String =
    java.math.BigDecimal.valueOf(tSec).stripTrailingZeros().toPlainString()

  /** JSON string escaping for hand-built response bodies. */
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Prometheus step syntax: bare (float) seconds or `<n><unit>` with unit
    * one of ms/s/m/h/d. */
  private def parseStep(s: String): Long = {
    val m = "([0-9.]+)(ms|s|m|h|d)?".r
    s.trim match {
      case m(n, unit) =>
        val mult = unit match {
          case null | "s" => 1000.0
          case "ms" => 1.0
          case "m" => 60000.0
          case "h" => 3600000.0
          case "d" => 86400000.0
        }
        val v = (n.toDouble * mult).toLong
        require(v > 0, s"step must be positive: $s")
        v
      case other => throw new IllegalArgumentException(s"bad step '$other'")
    }
  }

  def start(): Int = {
    server.start()
    ruleEngine.foreach(_.start())
    rollupScheduler.foreach(_.start())
    boundPort
  }
  def boundPort: Int = server.getAddress.getPort
  def ingestEnabled: Boolean = keepWriting.get()

  def stop(): Unit = {
    rollupScheduler.foreach(_.stop())
    ruleEngine.foreach(_.stop())
    server.stop(0)
    compactPool.shutdown()
    // clean shutdown sweeps grace-parked physical deletes (the serving
    // default defers them; nothing references these files, and a restart
    // would otherwise leak them until a vacuum run)
    compactor.flushDeferred()
  }
}
