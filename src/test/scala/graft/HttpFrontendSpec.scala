package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.metric._
import graft.server.HttpFrontend
import graft.storage.{CompactionConfig, TimeRange}
import graft.streaming.RemoteWrite

/** The serving edge (reference src/server/src/main.rs:58-80): liveness,
  * remote-write receive over HTTP, toggle gate, async compact, PromQL
  * query — all through a real socket, not in-process calls. */
class HttpFrontendSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val t0 = 1723680000000L
  private val http = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  private def getAccept(port: Int, path: String, accept: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Accept", accept).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: Array[Byte]): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def postForm(port: Int, path: String, form: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def samples(n: Int, offset: Int): Seq[Sample] =
    (0 until n).map(i => Sample("cpu_seconds_total",
      Map("host" -> s"h${i % 3}", "mode" -> "user"),
      t0 + (offset + i) * 1000L, (offset + i) * 1.5))

  test("HTTP frontend: liveness, remote-write ingest, toggle gate, query, " +
      "async compact (server/src/main.rs:58-80 surface)") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http").toString)
    val fe = new HttpFrontend(spark, engine,
      compaction = CompactionConfig(inputSstMinNum = 2, inputSstMaxNum = 30))
    val port = fe.start()
    try {
      // liveness (main.rs:59-62)
      val hello = get(port, "/")
      assert(hello.statusCode() == 200 && hello.body() == "Hello world!")
      assert(get(port, "/nope").statusCode() == 404)

      // remote-write receive: snappy-framed (spec-conformant) and raw both
      // land; 204 per the remote-write 1.0 spec
      val b1 = RemoteWrite.encode(samples(60, 0))
      val b2 = org.xerial.snappy.Snappy.compress(RemoteWrite.encode(samples(60, 60)))
      assert(post(port, "/api/v1/write", b1).statusCode() == 204)
      assert(post(port, "/api/v1/write", b2).statusCode() == 204)
      val cnt = engine.query(MetricQuery("cpu_seconds_total",
        agg = MetricAgg.Count)).collect()(0).getDouble(0)
      assert(cnt == 120.0, s"ingested $cnt of 120 samples")

      // undecodable body and wrong method are client errors, not ingests
      assert(post(port, "/api/v1/write", Array[Byte](1, 2, 3)).statusCode() == 400)
      assert(get(port, "/api/v1/write").statusCode() == 405)

      // crafted length varints (the decoder-stall shape) are a fast 400
      assert(post(port, "/api/v1/write", Array[Byte](0x0a, 0xFA.toByte,
        0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0x0F)).statusCode() == 400)

      // toggle gates the write path and reports the PREVIOUS state
      // (fetch_not, main.rs:65-72)
      assert(get(port, "/toggle").body() == "Stop!")
      assert(!fe.ingestEnabled)
      assert(post(port, "/api/v1/write", b1).statusCode() == 503)
      assert(get(port, "/toggle").body() == "Start write again!")
      assert(fe.ingestEnabled)

      // PromQL over the socket matches the in-process evaluation
      val q = "sum(cpu_seconds_total)"
      val viaHttp = get(port,
        s"/query?promql=${java.net.URLEncoder.encode(q, "UTF-8")}")
      assert(viaHttp.statusCode() == 200)
      val direct = engine
        .queryPromQL(q, TimeRange(Long.MinValue, Long.MaxValue), None)
        .toJSON.collect().mkString("[", ",", "]")
      assert(viaHttp.body() == direct)
      assert(get(port, "/query").statusCode() == 400) // missing promql
      assert(get(port, "/query?promql=%28%28").statusCode() == 400) // parse err
      // malformed percent-encoding must be a 400, never a dropped
      // connection (URLDecoder throws before query evaluation); the JDK
      // HttpClient refuses to even send it, so go through a raw socket
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.getOutputStream.write(
          ("GET /query?promql=%G1 HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
            "Connection: close\r\n\r\n").getBytes("US-ASCII"))
        sock.getOutputStream.flush()
        val raw = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        assert(raw.startsWith("HTTP/1.1 400"), s"got: ${raw.take(80)}")
      } finally sock.close()

      // async compact: two ingests above → ≥2 data SSTs; the submitted task
      // merges them (fire-and-forget response, main.rs:75-81)
      val before = engine.data.manifest.allSsts().size
      assert(before >= 2)
      val c = get(port, "/compact")
      assert(c.statusCode() == 200 && c.body() == "Task submit!")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (engine.data.manifest.allSsts().size >= before &&
          System.nanoTime() < deadline) Thread.sleep(100)
      assert(engine.data.manifest.allSsts().size < before,
        "compaction did not reduce the SST count")
      // merged scan still serves every sample
      val after = engine.query(MetricQuery("cpu_seconds_total",
        agg = MetricAgg.Count)).collect()(0).getDouble(0)
      assert(after == 120.0)
    } finally fe.stop()
  }

  test("query_range serves the Prometheus response envelope: matrix " +
      "result, per-series metric labels, [ts, \"v\"] pairs; errors get " +
      "the error envelope") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-qr").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      // two hosts, two samples each inside one day bucket
      val t0 = 1723680000000L
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("http_req", Map("host" -> "a"), t0, 1.0),
        graft.metric.Sample("http_req", Map("host" -> "a"), t0 + 1000, 2.0),
        graft.metric.Sample("http_req", Map("host" -> "b"), t0 + 2000, 5.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      val q = java.net.URLEncoder.encode("sum by (host) (http_req)", "UTF-8")
      val r = get(port, s"/api/v1/query_range?query=$q&start=${t0 / 1000}" +
        s"&end=${t0 / 1000 + 86400}&step=1d")
      assert(r.statusCode() == 200, r.body())
      val b = r.body()
      assert(b.startsWith("""{"status":"success","data":{"resultType":"matrix""""))
      assert(b.contains(""""metric":{"host":"a"}"""))
      assert(b.contains(""""metric":{"host":"b"}"""))
      assert(b.contains(""""3.0"""") && b.contains(""""5.0"""")) // sums
      // step accepts bare seconds too; series order is deterministic
      val r2 = get(port, s"/api/v1/query_range?query=$q&start=${t0 / 1000}" +
        s"&end=${t0 / 1000 + 86400}&step=86400")
      assert(r2.body() == b)
      // errors come back in the Prometheus error envelope
      val bad = get(port, s"/api/v1/query_range?query=$q&start=5&end=1&step=1d")
      assert(bad.statusCode() == 400 &&
        bad.body().startsWith("""{"status":"error""""))
      val missing = get(port, s"/api/v1/query_range?query=$q")
      assert(missing.statusCode() == 400 &&
        missing.body().contains("missing start"))
      // raw selector results stay one matrix entry PER SERIES (tsid rides
      // as a label) — not all series collapsed into one values array
      val raw = get(port, "/api/v1/query_range?query=http_req" +
        s"&start=${t0 / 1000}&end=${t0 / 1000 + 86400}&step=1d")
      assert(raw.statusCode() == 200, raw.body())
      val nSeries = """"metric":\{""".r.findAllIn(raw.body()).length
      assert(nSeries == 2, s"expected 2 matrix series, body: ${raw.body()}")
      assert(raw.body().contains(""""tsid":"""))
      // Grafana completion endpoints: label names + per-label values
      val labels = get(port, "/api/v1/labels")
      assert(labels.statusCode() == 200 &&
        labels.body() == """{"status":"success","data":["__name__","host"]}""",
        labels.body())
      val hosts = get(port, "/api/v1/label/host/values")
      assert(hosts.body() == """{"status":"success","data":["a","b"]}""",
        hosts.body())
      val metricNames = get(port, "/api/v1/label/__name__/values")
      assert(metricNames.body() ==
        """{"status":"success","data":["http_req"]}""", metricNames.body())
      assert(get(port, "/api/v1/label/host").statusCode() == 404)
      // series discovery: selector-matched label sets from the meta table
      val m = java.net.URLEncoder.encode("""http_req{host=~"a|b"}""", "UTF-8")
      val ser = get(port, s"/api/v1/series?match[]=$m")
      assert(ser.statusCode() == 200, ser.body())
      assert(ser.body() == """{"status":"success","data":[""" +
        """{"__name__":"http_req","host":"a"},""" +
        """{"__name__":"http_req","host":"b"}]}""", ser.body())
      val none = get(port, s"/api/v1/series?match[]=" +
        java.net.URLEncoder.encode("""http_req{host="zzz"}""", "UTF-8"))
      assert(none.body() == """{"status":"success","data":[]}""")
      assert(get(port, "/api/v1/series").statusCode() == 400)
    } finally fe.stop()
  }

  test("remote-write 2.0 over HTTP: snappy-framed v2 bodies ingest through " +
      "/api/v1/write; written-stats headers answer per the 2.0 spec") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-rw2").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val in = samples(30, 0)
      val body = org.xerial.snappy.Snappy.compress(RemoteWrite.encodeV2(in))
      val r = post(port, "/api/v1/write", body)
      assert(r.statusCode() == 204, r.body())
      assert(r.headers().firstValue(
        "X-Prometheus-Remote-Write-Samples-Written").orElse("") == "30")
      assert(r.headers().firstValue(
        "X-Prometheus-Remote-Write-Histograms-Written").orElse("") == "0")
      val cnt = engine.query(MetricQuery("cpu_seconds_total",
        agg = MetricAgg.Count)).collect()(0).getDouble(0)
      assert(cnt == 30.0, s"ingested $cnt of 30 v2 samples")
      // metadata-only v2 request (Prometheus 3 detached metadata) lands in
      // the /api/v1/metadata cache
      val md = RemoteWrite.encodeRequestV2(RemoteWrite.Request(Nil, Nil,
        Seq(RemoteWrite.Metadata(1, "cpu_seconds_total", "seconds of cpu",
          "seconds"))))
      assert(post(port, "/api/v1/write", md).statusCode() == 204)
      val meta = get(port, "/api/v1/metadata")
      assert(meta.body().contains("seconds of cpu"), meta.body())
    } finally fe.stop()
  }

  test("rollup scheduler failures are visible: a failing refresh tick " +
      "increments graft_rollup_refresh_failures_total and surfaces the " +
      "error on /api/v1/status/tsdb; a healthy tick clears the error") {
    val dir = Files.createTempDirectory("graft-http-rohealth").toString
    val engine = new MetricEngine(spark, dir)
    val fe = new HttpFrontend(spark, engine, rollupGrids = Seq(3600000L),
      rollupRefreshMs = 3600000L) // timer never fires in-test; tick by hand
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("roh_req", Map("host" -> "a"), t0, 1.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      val sched = fe.rollupScheduler.get
      sched.runOnce()
      assert(sched.refreshFailuresTotal == 0)
      assert(sched.lastRefreshError.isEmpty)
      // break the refresher: a DIRECTORY where the watermark file lives
      // makes readWatermark throw on open (works even running as root,
      // unlike permission bits)
      val wm = new java.io.File(
        s"${fe.rollups.head.store.root}/rollup_watermark")
      assert(wm.delete(), s"could not remove $wm")
      assert(wm.mkdir())
      sched.runOnce()
      assert(sched.refreshFailuresTotal == 1)
      assert(sched.lastRefreshError.isDefined)
      val metrics = get(port, "/metrics").body()
      assert(metrics.contains("graft_rollup_refresh_failures_total 1"),
        metrics)
      val status = get(port, "/api/v1/status/tsdb").body()
      assert(status.contains(""""refreshFailuresTotal":1"""), status)
      assert(status.contains(""""lastRefreshError":""""), status)
      // repair → the next healthy tick clears the error, count persists
      assert(wm.delete())
      sched.runOnce()
      assert(sched.refreshFailuresTotal == 1)
      assert(sched.lastRefreshError.isEmpty)
      val status2 = get(port, "/api/v1/status/tsdb").body()
      assert(status2.contains(""""lastRefreshError":null"""), status2)
    } finally fe.stop()
  }

  test("rollupGrids: a frontend-maintained rollup serves query_range " +
      "value-invisibly, including the hybrid edge-split on the " +
      "end-inclusive (+1ms) range every real client sends") {
    val dir = Files.createTempDirectory("graft-http-ro").toString
    val engine = new MetricEngine(spark, dir)
    val fe = new HttpFrontend(spark, engine, rollupGrids = Seq(3600000L),
      rollupRefreshMs = 3600000L) // tick never fires in-test; refresh by hand
    val port = fe.start()
    try {
      val t0 = 1723680000000L // day-aligned
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("ro_req", Map("host" -> "a"), t0, 1.0),
        graft.metric.Sample("ro_req", Map("host" -> "a"), t0 + 1000, 2.0),
        graft.metric.Sample("ro_req", Map("host" -> "a"), t0 + 7200000, 9.0),
        graft.metric.Sample("ro_req", Map("host" -> "b"), t0 + 2000, 5.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      fe.rollups.foreach(_.refresh())
      assert(fe.rollups.forall(_.isFresh))
      // routing engages on the engine (grid-aligned range)
      val routed = engine.queryPromQL("sum by (host) (ro_req)",
        TimeRange(t0, t0 + 2 * 3600000L), Some(3600000L))
      assert(routed.inputFiles.exists(_.contains("_rollup_")))
      // the HTTP surface: end-inclusive +1ms range (what every client
      // sends) → hybrid edge-split; body must equal a rollup-free replay
      val q = java.net.URLEncoder.encode("sum by (host) (ro_req)", "UTF-8")
      val url = s"/api/v1/query_range?query=$q&start=${t0 / 1000}" +
        s"&end=${t0 / 1000 + 7200}&step=1h"
      val withRollup = get(port, url)
      assert(withRollup.statusCode() == 200, withRollup.body())
      val bare = new HttpFrontend(spark,
        new MetricEngine(spark,
          Files.createTempDirectory("graft-http-ro2").toString))
      val barePort = bare.start()
      try {
        assert(post(barePort, "/api/v1/write", body).statusCode() == 204)
        assert(get(barePort, url).body() == withRollup.body())
      } finally bare.stop()
    } finally fe.stop()
  }

  test("instant query /api/v1/query: vector envelope, exact last-sample-" +
      "per-series semantics, stale-series dropout, windowed deviation") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-iq").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("http_req", Map("host" -> "a"), t0, 1.0),
        graft.metric.Sample("http_req", Map("host" -> "a"), t0 + 1000, 2.0),
        graft.metric.Sample("http_req", Map("host" -> "b"), t0 + 2000, 5.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      val tEval = (t0 + 2000) / 1000 // seconds, covers all samples in 5m

      // aggregation uses each series' NEWEST sample only: host a
      // contributes 2.0 (not 1.0+2.0), host b 5.0 → 7.0. This is the
      // exact Prometheus instant semantics, not a range sum (8.0).
      val q = java.net.URLEncoder.encode("sum(http_req)", "UTF-8")
      val r = get(port, s"/api/v1/query?query=$q&time=$tEval")
      assert(r.statusCode() == 200, r.body())
      assert(r.body() == """{"status":"success","data":{"resultType":"vector",""" +
        s""""result":[{"metric":{},"value":[$tEval,"7.0"]}]}}""", r.body())

      // by-label grouping keeps per-series last values
      val qBy = java.net.URLEncoder.encode("sum by (host) (http_req)", "UTF-8")
      val rBy = get(port, s"/api/v1/query?query=$qBy&time=$tEval")
      assert(rBy.body().contains("""{"metric":{"host":"a"},"value":[""") &&
        rBy.body().contains(""""2.0"""") && rBy.body().contains(""""5.0""""),
        rBy.body())

      // raw selector: one vector entry per series (tsid rides as a label),
      // value pair stamped with the EVALUATION time
      val raw = get(port, s"/api/v1/query?query=http_req&time=$tEval")
      assert(raw.statusCode() == 200, raw.body())
      val nSeries = """"metric":\{""".r.findAllIn(raw.body()).length
      assert(nSeries == 2, raw.body())
      assert(raw.body().contains(s""""value":[$tEval,"""), raw.body())

      // stale series drop out: evaluation 1 h later finds nothing within
      // the 5 m lookback
      val stale = get(port, s"/api/v1/query?query=$q&time=${tEval + 3600}")
      assert(stale.body() == """{"status":"success","data":""" +
        """{"resultType":"vector","result":[]}}""", stale.body())

      // `time` defaults to now (far from t0 → empty, but a valid envelope)
      val noTime = get(port, s"/api/v1/query?query=$q")
      assert(noTime.statusCode() == 200 &&
        noTime.body().contains(""""resultType":"vector""""), noTime.body())

      // windowed expression: newest tumbling bucket per series (documented
      // deviation) still serves a well-formed single-entry vector
      val qw = java.net.URLEncoder.encode("sum(rate(http_req[1m]))", "UTF-8")
      val rw = get(port, s"/api/v1/query?query=$qw&time=$tEval")
      assert(rw.statusCode() == 200, rw.body())
      assert("""\{"metric":\{\},"value":\[""".r
        .findAllIn(rw.body()).length == 1, rw.body())

      // errors: missing query / parse failure → error envelope, not a
      // dropped connection
      val missing = get(port, "/api/v1/query")
      assert(missing.statusCode() == 400 &&
        missing.body().contains("missing query"), missing.body())
      assert(get(port, "/api/v1/query?query=%28%28").statusCode() == 400)
      // path prefix below the context does not leak into the handler
      assert(get(port, "/api/v1/queryzzz?query=$q").statusCode() == 404)
    } finally fe.stop()
  }

  test("read-path result cap: oversized results are a 422 execution-error " +
      "envelope on every query endpoint, never a partial 200") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-rcap").toString)
    val fe = new HttpFrontend(spark, engine, maxResultRows = 1)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("http_req", Map("host" -> "a"), t0, 1.0),
        graft.metric.Sample("http_req", Map("host" -> "b"), t0 + 2000, 5.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      val sel = "http_req" // 2 series > cap of 1
      val qr = get(port, s"/api/v1/query_range?query=$sel" +
        s"&start=${t0 / 1000}&end=${t0 / 1000 + 60}&step=1m")
      assert(qr.statusCode() == 422, s"${qr.statusCode()} ${qr.body()}")
      assert(qr.body().startsWith(
        """{"status":"error","errorType":"execution""""), qr.body())
      val iq = get(port, s"/api/v1/query?query=$sel&time=${t0 / 1000 + 2}")
      assert(iq.statusCode() == 422 &&
        iq.body().contains("\"execution\""), iq.body())
      val bespoke = get(port, s"/query?promql=$sel")
      assert(bespoke.statusCode() == 422, bespoke.body())
      // a within-cap result still serves normally on the same frontend
      val q1 = java.net.URLEncoder.encode("sum(http_req)", "UTF-8")
      val ok = get(port, s"/api/v1/query?query=$q1&time=${t0 / 1000 + 2}")
      assert(ok.statusCode() == 200 && ok.body().contains(""""6.0""""),
        ok.body())
    } finally fe.stop()
  }

  test("match[] scopes /api/v1/labels and /api/v1/label/<name>/values to " +
      "the matching series; without it the global dictionaries answer") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-match").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("http_req", Map("host" -> "a"), t0, 1.0),
        graft.metric.Sample("http_req", Map("host" -> "b"), t0 + 1000, 2.0),
        graft.metric.Sample("disk_io",
          Map("host" -> "a", "dev" -> "sda"), t0 + 2000, 3.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      val mHttp = java.net.URLEncoder.encode("http_req", "UTF-8")
      val mDisk = java.net.URLEncoder.encode("disk_io", "UTF-8")
      val mA = java.net.URLEncoder.encode("""http_req{host="a"}""", "UTF-8")

      // global: every label key across both metrics
      assert(get(port, "/api/v1/labels").body() ==
        """{"status":"success","data":["__name__","dev","host"]}""")
      // scoped: only http_req's keys — no dev
      assert(get(port, s"/api/v1/labels?match[]=$mHttp").body() ==
        """{"status":"success","data":["__name__","host"]}""")
      // multiple selectors union
      assert(get(port,
          s"/api/v1/labels?match[]=$mHttp&match[]=$mDisk").body() ==
        """{"status":"success","data":["__name__","dev","host"]}""")

      // values: global vs scoped
      assert(get(port, "/api/v1/label/host/values").body() ==
        """{"status":"success","data":["a","b"]}""")
      assert(get(port, s"/api/v1/label/host/values?match[]=$mDisk").body() ==
        """{"status":"success","data":["a"]}""")
      assert(get(port, s"/api/v1/label/__name__/values?match[]=$mA").body() ==
        """{"status":"success","data":["http_req"]}""")
      // a label absent from the matched series → empty, not the global set
      assert(get(port, s"/api/v1/label/dev/values?match[]=$mHttp").body() ==
        """{"status":"success","data":[]}""")
      // limit truncates (Prometheus semantics; 0 = unlimited)
      assert(get(port, "/api/v1/labels?limit=1").body() ==
        """{"status":"success","data":["__name__"]}""")
      assert(get(port, "/api/v1/label/host/values?limit=1").body() ==
        """{"status":"success","data":["a"]}""")
      assert(get(port, "/api/v1/label/host/values?limit=0").body() ==
        """{"status":"success","data":["a","b"]}""")
      assert(get(port, s"/api/v1/series?match[]=$mHttp&limit=1").body()
        .count(_ == '{') == 2) // envelope + exactly one series object
      assert(get(port, "/api/v1/labels?limit=-1").statusCode() == 400)
    } finally fe.stop()
  }

  test("Grafana compatibility: POST form parameters on query endpoints, " +
      "/api/v1/status/buildinfo, /api/v1/metadata from write-path records") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-graf").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val md = RemoteWrite.Metadata(1, "cpu_seconds_total",
        "Total CPU seconds.", "seconds")
      val mdGauge = RemoteWrite.Metadata(2, "mem_bytes", "Resident set.", "")
      val body = RemoteWrite.encodeRequest(RemoteWrite.Request(
        Seq(graft.metric.Sample("cpu_seconds_total",
            Map("host" -> "a"), t0, 1.0),
          graft.metric.Sample("cpu_seconds_total",
            Map("host" -> "b"), t0 + 1000, 4.0)),
        Nil, Seq(md, mdGauge)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)

      // buildinfo: the datasource probe Grafana issues first
      val bi = get(port, "/api/v1/status/buildinfo")
      assert(bi.statusCode() == 200 &&
        bi.body().contains(""""revision":"graft""""), bi.body())

      // metadata from the write path's full decode, Prometheus shape
      val meta = get(port, "/api/v1/metadata")
      assert(meta.body() == """{"status":"success","data":{""" +
        """"cpu_seconds_total":[{"type":"counter",""" +
        """"help":"Total CPU seconds.","unit":"seconds"}],""" +
        """"mem_bytes":[{"type":"gauge","help":"Resident set.",""" +
        """"unit":""}]}}""", meta.body())
      val one = get(port, "/api/v1/metadata?metric=mem_bytes")
      assert(one.body().contains("mem_bytes") &&
        !one.body().contains("cpu_seconds_total"), one.body())
      assert(get(port, "/api/v1/metadata?metric=nope").body() ==
        """{"status":"success","data":{}}""")
      assert(get(port, "/api/v1/metadata?limit=1").body()
        .contains("cpu_seconds_total")) // sorted, first family only

      // POST form parameters: instant query + range query + series, the
      // spellings Grafana actually sends
      val q = java.net.URLEncoder.encode("sum(cpu_seconds_total)", "UTF-8")
      val tEval = (t0 + 1000) / 1000
      val iq = postForm(port, "/api/v1/query", s"query=$q&time=$tEval")
      assert(iq.statusCode() == 200 && iq.body().contains(""""5.0""""),
        iq.body())
      val qr = postForm(port, "/api/v1/query_range",
        s"query=$q&start=${t0 / 1000}&end=${t0 / 1000 + 60}&step=1m")
      assert(qr.statusCode() == 200 &&
        qr.body().contains(""""resultType":"matrix""""), qr.body())
      val m = java.net.URLEncoder.encode("""cpu_seconds_total{host="a"}""",
        "UTF-8")
      val ser = postForm(port, "/api/v1/series", s"match[]=$m")
      assert(ser.statusCode() == 200 &&
        ser.body().contains(""""host":"a"""") &&
        !ser.body().contains(""""host":"b""""), ser.body())
      // form body + query string combine (Prometheus merges both)
      val mixed = postForm(port, s"/api/v1/query?time=$tEval", s"query=$q")
      assert(mixed.statusCode() == 200 && mixed.body().contains(""""5.0""""),
        mixed.body())

      // status probes: flags report the real serving config, runtimeinfo
      // real process facts, targets the empty no-scrape-config shape
      val fl = get(port, "/api/v1/status/flags")
      assert(fl.statusCode() == 200 &&
        fl.body().contains(""""query.lookback-delta":"300s""""), fl.body())
      val ri = get(port, "/api/v1/status/runtimeinfo")
      assert(ri.statusCode() == 200 &&
        ri.body().contains(""""reloadConfigSuccess":true"""), ri.body())
      assert(get(port, "/api/v1/targets").body() ==
        """{"status":"success","data":{"activeTargets":[],"droppedTargets":[]}}""")

      // limit parameter truncates the series list with the standard warning
      val qAll = java.net.URLEncoder.encode("cpu_seconds_total", "UTF-8")
      val lim = get(port, s"/api/v1/query?query=$qAll&time=$tEval&limit=1")
      assert(lim.statusCode() == 200 &&
        lim.body().contains(""""warnings":["results truncated due to limit"]""") &&
        lim.body().split("\"metric\"").length == 2, lim.body())
      val unlim = get(port, s"/api/v1/query?query=$qAll&time=$tEval")
      assert(!unlim.body().contains("warnings") &&
        unlim.body().split("\"metric\"").length == 3, unlim.body())
      assert(get(port,
        s"/api/v1/query?query=$qAll&time=$tEval&limit=-2").statusCode() == 400)

      // format_query: canonical pretty-print, parse errors as bad_data
      val raw = java.net.URLEncoder.encode(
        "sum   by(host)(rate(cpu_seconds_total{mode=\"user\"}[5m]))", "UTF-8")
      val fq = get(port, s"/api/v1/format_query?query=$raw")
      assert(fq.statusCode() == 200 && fq.body() ==
        """{"status":"success","data":""" +
          """"sum by (host) (rate(cpu_seconds_total{mode=\"user\"}[5m]))"}""",
        fq.body())
      val badq = get(port, "/api/v1/format_query?query=sum%28")
      assert(badq.statusCode() == 400 &&
        badq.body().contains(""""errorType":"bad_data""""), badq.body())
    } finally fe.stop()
  }

  test("exemplars: persisted from remote-write bodies, served grouped per " +
      "series over /api/v1/query_exemplars; re-delivery upserts idempotently") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-exem").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val sA = Map("host" -> "a")
      val sB = Map("host" -> "b")
      val body = RemoteWrite.encodeRequest(RemoteWrite.Request(
        samples = Seq(
          graft.metric.Sample("http_req", sA, t0, 1.0),
          graft.metric.Sample("http_req", sB, t0 + 1000, 2.0)),
        exemplars = Seq(
          RemoteWrite.Exemplar("http_req", sA,
            Map("trace_id" -> "abc"), 0.5, t0 + 500),
          RemoteWrite.Exemplar("http_req", sA,
            Map("trace_id" -> "xyz"), 0.7, t0 + 900),
          RemoteWrite.Exemplar("http_req", sB,
            Map("trace_id" -> "def"), 7.0, t0 + 600)),
        metadata = Nil))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      // re-deliver the identical request: exemplar identity upserts
      assert(post(port, "/api/v1/write", body).statusCode() == 204)

      val q = java.net.URLEncoder.encode("""http_req{host="a"}""", "UTF-8")
      val r = get(port, s"/api/v1/query_exemplars?query=$q" +
        s"&start=${t0 / 1000}&end=${t0 / 1000 + 60}")
      assert(r.statusCode() == 200, r.body())
      assert(r.body() == """{"status":"success","data":[""" +
        """{"seriesLabels":{"__name__":"http_req","host":"a"},""" +
        """"exemplars":[""" +
        """{"labels":{"trace_id":"abc"},"value":"0.5","timestamp":1723680000.5},""" +
        """{"labels":{"trace_id":"xyz"},"value":"0.7","timestamp":1723680000.9}""" +
        """]}]}""", r.body())
      // unscoped selector returns both series, sorted deterministically
      val all = get(port, "/api/v1/query_exemplars?query=http_req" +
        s"&start=${t0 / 1000}&end=${t0 / 1000 + 60}")
      assert(""""seriesLabels"""".r.findAllIn(all.body()).length == 2, all.body())
      assert(all.body().contains(""""trace_id":"def""""))
      // time range excludes: a window before the exemplars is empty
      val none = get(port, s"/api/v1/query_exemplars?query=$q" +
        s"&start=${t0 / 1000 - 600}&end=${t0 / 1000 - 300}")
      assert(none.body() == """{"status":"success","data":[]}""", none.body())
      // missing params → error envelope
      assert(get(port, "/api/v1/query_exemplars?query=http_req")
        .statusCode() == 400)
      // direct engine check: idempotent re-delivery left exactly 3 rows
      assert(engine.exemplars.scan(graft.storage.ScanRequest()).count() == 3)
    } finally fe.stop()
  }

  test("remote read /api/v1/read: snappy protobuf ReadRequest in, sample " +
      "series out — write via remote write, read back via remote read") {
    import graft.streaming.RemoteRead
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-rread").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("cpu", Map("host" -> "a"), t0, 1.0),
        graft.metric.Sample("cpu", Map("host" -> "a"), t0 + 1000, 2.0),
        graft.metric.Sample("cpu", Map("host" -> "b"), t0 + 2000, 5.0),
        graft.metric.Sample("mem", Map("host" -> "a"), t0, 9.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)

      def read(qs: Seq[RemoteRead.Query]): Seq[Seq[RemoteRead.Series]] = {
        val req = org.xerial.snappy.Snappy.compress(
          RemoteRead.encodeRequest(qs))
        val resp = http.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/api/v1/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(req)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        assert(resp.statusCode() == 200,
          new String(resp.body(), "UTF-8"))
        assert(resp.headers().firstValue("Content-Encoding")
          .orElse("") == "snappy")
        RemoteRead.decodeResponse(resp.body())
      }

      // name EQ + label EQ: one series, both samples, inclusive end bound
      val r1 = read(Seq(RemoteRead.Query(t0, t0 + 1000, Seq(
        RemoteRead.Matcher(0, "__name__", "cpu"),
        RemoteRead.Matcher(0, "host", "a")))))
      assert(r1 == Seq(Seq(RemoteRead.Series(
        Seq("__name__" -> "cpu", "host" -> "a"),
        Seq((t0, 1.0), (t0 + 1000, 2.0))))), r1.toString)

      // regex name matcher spans metrics; NEQ excludes; two queries answer
      // in order
      val r2 = read(Seq(
        RemoteRead.Query(t0, t0 + 5000, Seq(
          RemoteRead.Matcher(2, "__name__", "cpu|mem"),
          RemoteRead.Matcher(1, "host", "b"))),
        RemoteRead.Query(t0, t0 + 5000, Seq(
          RemoteRead.Matcher(0, "__name__", "cpu")))))
      assert(r2(0).map(_.labels).toSet == Set(
        Seq("__name__" -> "cpu", "host" -> "a"),
        Seq("__name__" -> "mem", "host" -> "a")), r2(0).toString)
      assert(r2(1).map(_.labels).toSet == Set(
        Seq("__name__" -> "cpu", "host" -> "a"),
        Seq("__name__" -> "cpu", "host" -> "b")))

      // a range before the data is an empty (but valid) result
      val r3 = read(Seq(RemoteRead.Query(0L, 1000L, Seq(
        RemoteRead.Matcher(0, "__name__", "cpu")))))
      assert(r3 == Seq(Nil))

      // wrong method and undecodable bodies are client errors
      assert(get(port, "/api/v1/read").statusCode() == 405)
      assert(post(port, "/api/v1/read", Array[Byte](0x0a, 0xFA.toByte,
        0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0x0F)).statusCode() == 400)

      // STREAMED_XOR_CHUNKS negotiation (round 11): a client accepting
      // type 1 gets the chunked content type and uvarint+CRC32C frames of
      // ChunkedReadResponse whose XOR chunks decode to EXACTLY the
      // sampled response's series
      val chunkedReq = org.xerial.snappy.Snappy.compress(
        RemoteRead.encodeRequest(
          Seq(RemoteRead.Query(t0, t0 + 5000, Seq(
            RemoteRead.Matcher(2, "__name__", "cpu|mem")))),
          acceptedResponseTypes = Seq(RemoteRead.StreamedXorChunks)))
      val chunked = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/v1/read"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(chunkedReq)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(chunked.statusCode() == 200,
        new String(chunked.body(), "UTF-8"))
      assert(chunked.headers().firstValue("Content-Type").orElse("") ==
        RemoteRead.ChunkedContentType)
      // round 12: the response STREAMS (chunked transfer encoding, no
      // pre-computed length) — frames flush as their series complete
      assert(chunked.headers().firstValue("Content-Length").isEmpty,
        chunked.headers().map().toString)
      val frames = RemoteRead.unframeAll(chunked.body())
        .map(RemoteRead.decodeChunkedFrame)
      assert(frames.forall(_._1 == 0L)) // one query → index 0
      val viaChunks = frames.flatMap(_._2).toSet
      val viaSamples = read(Seq(RemoteRead.Query(t0, t0 + 5000, Seq(
        RemoteRead.Matcher(2, "__name__", "cpu|mem"))))).head.toSet
      assert(viaChunks == viaSamples, viaChunks.toString)
      // a client accepting NEITHER served type is a client error
      val badReq = org.xerial.snappy.Snappy.compress(
        RemoteRead.encodeRequest(
          Seq(RemoteRead.Query(t0, t0 + 5000, Seq(
            RemoteRead.Matcher(0, "__name__", "cpu")))),
          acceptedResponseTypes = Seq(7)))
      assert(post(port, "/api/v1/read", badReq).statusCode() == 400)
    } finally fe.stop()
  }

  test("native histograms over the socket: a v2 write with histogram " +
      "records is accepted (real written-stats header) and instant " +
      "histogram_quantile serves the native buckets with full labels") {
    import graft.streaming.RemoteWrite
    import graft.streaming.RemoteWrite.{HistogramSample, Request}
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-nh").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val h = HistogramSample("rpc_latency", Map("job" -> "api"), t0,
        count = 10, sum = 21.0, schema = 0, zeroThreshold = 0.001,
        zeroCount = 2, positiveBuckets = Seq((1, 3.0), (2, 5.0)),
        negativeBuckets = Nil)
      val body = org.xerial.snappy.Snappy.compress(
        RemoteWrite.encodeRequestV2(Request(Nil, Nil, Nil, Seq(h))))
      val w = post(port, "/api/v1/write", body)
      assert(w.statusCode() == 204, w.body())
      assert(w.headers()
        .firstValue("X-Prometheus-Remote-Write-Histograms-Written")
        .orElse("") == "1")
      val q = java.net.URLEncoder.encode(
        "histogram_quantile(0.5, rpc_latency)", "UTF-8")
      val r = get(port, s"/api/v1/query?query=$q&time=${t0 / 1000 + 1}")
      assert(r.statusCode() == 200, r.body())
      // rank 5 lands in (1,2]: 1 + (5-2)/3 = 2
      assert(r.body().contains(
        """{"metric":{"__name__":"rpc_latency","job":"api"},"value":"""),
        r.body())
      assert(r.body().contains("\"2\"") || r.body().contains("\"2.0\""),
        r.body())
      // the graph endpoint: query_range renders the native range routing
      // (newest histogram per step bucket) as an ordinary matrix
      val rr = get(port, s"/api/v1/query_range?query=$q" +
        s"&start=${t0 / 1000}&end=${t0 / 1000 + 60}&step=1m")
      assert(rr.statusCode() == 200, rr.body())
      assert(rr.body().contains(""""resultType":"matrix""""), rr.body())
      assert(rr.body().contains(
        """{"metric":{"__name__":"rpc_latency","job":"api"},"values":"""),
        rr.body())
    } finally fe.stop()
  }

  test("metadata-only and exemplar-only remote-write requests are accepted " +
      "204 (Prometheus sends metadata in dedicated sample-less requests)") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-mdonly").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      // dedicated metadata request: zero timeseries, metadata only — the
      // shape prometheus's remote-write metadata_config actually emits
      val mdOnly = RemoteWrite.encodeRequest(RemoteWrite.Request(Nil, Nil,
        Seq(RemoteWrite.Metadata(2, "mem_bytes", "Resident set.", "bytes"))))
      assert(post(port, "/api/v1/write", mdOnly).statusCode() == 204)
      assert(get(port, "/api/v1/metadata").body() ==
        """{"status":"success","data":{"mem_bytes":[{"type":"gauge",""" +
          """"help":"Resident set.","unit":"bytes"}]}}""")
      // exemplar-only request: stored, 204
      val exOnly = RemoteWrite.encodeRequest(RemoteWrite.Request(Nil,
        Seq(RemoteWrite.Exemplar("http_req", Map("host" -> "a"),
          Map("trace_id" -> "abc"), 0.5, t0 + 500)), Nil))
      assert(post(port, "/api/v1/write", exOnly).statusCode() == 204)
      assert(engine.exemplars.scan(graft.storage.ScanRequest()).count() == 1)
      // a truly empty decode is still a 400
      assert(post(port, "/api/v1/write", Array[Byte](1, 2, 3)).statusCode() == 400)
    } finally fe.stop()
  }

  test("instant query: offset selectors see their own shifted lookback and " +
      "@-pinned windows read outside it (engine path)") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-iqoff").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("http_req", Map("host" -> "a"), t0 - 7200000, 5.0),
        graft.metric.Sample("http_req", Map("host" -> "a"), t0 - 1000, 9.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      val tEval = t0 / 1000
      // offset 2h at T: newest within (T-2h-5m, T-2h] is the old 5.0 —
      // regression: a raw-timeline latest restriction returned empty here
      val qOff = java.net.URLEncoder.encode("sum(http_req offset 2h)", "UTF-8")
      val rOff = get(port, s"/api/v1/query?query=$qOff&time=$tEval")
      assert(rOff.statusCode() == 200 && rOff.body().contains(""""5.0""""),
        rOff.body())
      // the un-offset twin still answers from the fresh sample
      val qNow = java.net.URLEncoder.encode("sum(http_req)", "UTF-8")
      assert(get(port, s"/api/v1/query?query=$qNow&time=$tEval")
        .body().contains(""""9.0""""))
      // @-pinned window over the old hour, evaluated at T: reads outside
      // the 5m lookback entirely
      val at = (t0 - 7200000) / 1000 + 60
      val qAt = java.net.URLEncoder.encode(
        s"sum(sum_over_time(http_req[1h] @ $at))", "UTF-8")
      val rAt = get(port, s"/api/v1/query?query=$qAt&time=$tEval")
      assert(rAt.statusCode() == 200 && rAt.body().contains(""""5.0""""),
        rAt.body())
    } finally fe.stop()
  }

  test("OTLP /v1/metrics ingests gauge and sum points into the engine " +
      "(gzip and raw bodies); queryable back through PromQL") {
    import graft.streaming.Otlp
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-otlp").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      val t0 = 1723680000000L
      val body = Otlp.encode(
        resourceAttrs = Map("service.name" -> "api"),
        metrics = Seq(
          Otlp.MetricSpec("http.server.requests", Seq(
            Otlp.Point(Map("host" -> "a"), t0 * 1000000L, 3.0),
            Otlp.Point(Map("host" -> "b"), (t0 + 1000) * 1000000L, 4.0)),
            sum = true)))
      val r = post(port, "/v1/metrics", body)
      assert(r.statusCode() == 200, r.body())
      assert(r.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/x-protobuf"))
      // gzip body (the standard OTLP/HTTP exporter framing) also lands
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(Otlp.encode(Map("service.name" -> "api"), Seq(
        Otlp.MetricSpec("http.server.requests", Seq(
          Otlp.Point(Map("host" -> "a"), (t0 + 2000) * 1000000L, 9.0,
            asInt = true)), sum = true))))
      gz.close()
      assert(post(port, "/v1/metrics", bos.toByteArray).statusCode() == 200)
      // sanitized names/labels are PromQL-addressable
      val cnt = engine.query(MetricQuery("http_server_requests",
        agg = MetricAgg.Count)).collect()(0).getDouble(0)
      assert(cnt == 3.0, cnt.toString)
      val q = java.net.URLEncoder.encode(
        """sum(http_server_requests{host="a",service_name="api"})""", "UTF-8")
      val iq = get(port, s"/api/v1/query?query=$q&time=${(t0 + 2000) / 1000}")
      assert(iq.statusCode() == 200 && iq.body().contains(""""9.0""""),
        iq.body())
      // method and body guards
      assert(get(port, "/v1/metrics").statusCode() == 405)
      assert(post(port, "/v1/metrics", Array[Byte](0x0a, 0xFA.toByte,
        0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0x0F)).statusCode() == 400)
      // toggle gates OTLP like remote write
      assert(get(port, "/toggle").body() == "Stop!")
      assert(post(port, "/v1/metrics", body).statusCode() == 503)
      get(port, "/toggle")
    } finally fe.stop()
  }

  test("OTLP utf8Names end to end over HTTP (round 15): dotted metric AND " +
      "label names ingest verbatim, group via the quoted by-list on " +
      "/api/v1/query, and the JSON metric object carries the dotted key") {
    import graft.streaming.Otlp
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-otlp8").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    spark.conf.set("graft.otlp.utf8Names", "true")
    try {
      val t0 = System.currentTimeMillis() - 60000
      val body = Otlp.encode(
        resourceAttrs = Map("service.name" -> "api"),
        metrics = Seq(
          Otlp.MetricSpec("http.server.duration", Seq(
            Otlp.Point(Map("host.name" -> "h1"), t0 * 1000000L, 3.0),
            Otlp.Point(Map("host.name" -> "h2"), (t0 + 1000) * 1000000L, 4.0)))))
      assert(post(port, "/v1/metrics", body).statusCode() == 200)
      val q = java.net.URLEncoder.encode(
        """sum by ("service.name") ({"http.server.duration", "host.name"=~"h[0-9]"})""",
        "UTF-8")
      val iq = get(port,
        s"/api/v1/query?query=$q&time=${(t0 + 2000) / 1000}")
      assert(iq.statusCode() == 200, iq.body())
      assert(iq.body().contains(""""service.name":"api""""), iq.body())
      assert(iq.body().contains(""""7.0""""), iq.body())
    } finally {
      spark.conf.unset("graft.otlp.utf8Names")
      fe.stop()
    }
  }

  test("federate serves the newest sample per matching series in the text " +
      "exposition format; overlapping match[] selectors dedup by series") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-fed").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      // recent timestamps: federation's lookback is anchored at "now"
      val now = System.currentTimeMillis()
      val body = RemoteWrite.encode(Seq(
        graft.metric.Sample("cpu", Map("host" -> "a"), now - 60000, 1.0),
        graft.metric.Sample("cpu", Map("host" -> "a"), now - 30000, 2.5),
        graft.metric.Sample("cpu", Map("host" -> "b"), now - 20000, 5.0),
        graft.metric.Sample("up", Map.empty, now - 10000, 1.0),
        // stale: outside the 5m lookback, must not federate
        graft.metric.Sample("old_metric", Map("host" -> "a"),
          now - 3600000, 9.0)))
      assert(post(port, "/api/v1/write", body).statusCode() == 204)
      val mAll = java.net.URLEncoder.encode("""{__name__=~".+"}""", "UTF-8")
      val r = get(port, s"/federate?match[]=$mAll")
      assert(r.statusCode() == 200, r.body())
      assert(r.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/plain; version=0.0.4"))
      val lines = r.body().split("\n").toSeq
      // newest sample per series, ms timestamps, no stale series
      assert(lines == Seq(
        s"""cpu{host="a"} 2.5 ${now - 30000}""",
        s"""cpu{host="b"} 5.0 ${now - 20000}""",
        s"up 1.0 ${now - 10000}"), lines.toString)
      // overlapping selectors dedup by series; narrower selector narrows
      val mCpu = java.net.URLEncoder.encode("cpu", "UTF-8")
      val mA = java.net.URLEncoder.encode("""cpu{host="a"}""", "UTF-8")
      val both = get(port, s"/federate?match[]=$mCpu&match[]=$mA")
      assert(both.body().split("\n").count(_.startsWith("cpu{host=\"a\"}")) == 1)
      val narrow = get(port, s"/federate?match[]=$mA")
      assert(narrow.body().trim == s"""cpu{host="a"} 2.5 ${now - 30000}""")
      assert(get(port, "/federate").statusCode() == 400)
      // prefix paths and wrong methods don't leak federation data
      assert(get(port, s"/federatefoo?match[]=$mAll").statusCode() == 404)
      val del = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/federate?match[]=$mAll"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 405)
      // POST form body works (single-shot body parse shared with limit)
      val viaPost = postForm(port, "/federate", s"match[]=$mA")
      assert(viaPost.statusCode() == 200 &&
        viaPost.body().trim == s"""cpu{host="a"} 2.5 ${now - 30000}""")
      // Prometheus 3 UTF-8 exposition is NEGOTIATED: a dotted metric name
      // federates as a quoted in-brace element only when the scraper's
      // Accept carries escaping=allow-utf-8 (echoed in the Content-Type);
      // a legacy scraper gets the same series underscore-escaped in plain
      // 0.0.4 syntax — one dotted series must never break a 2.x scrape
      val dotted = RemoteWrite.encode(Seq(graft.metric.Sample(
        "http.req.total", Map("host" -> "a"), now - 5000, 3.25)))
      assert(post(port, "/api/v1/write", dotted).statusCode() == 204)
      val mDot = java.net.URLEncoder.encode(
        """{"http.req.total"}""", "UTF-8")
      val fedDot = getAccept(port, s"/federate?match[]=$mDot",
        "text/plain;version=0.0.4;escaping=allow-utf-8")
      assert(fedDot.statusCode() == 200, fedDot.body())
      assert(fedDot.body().trim ==
        s"""{"http.req.total",host="a"} 3.25 ${now - 5000}""",
        fedDot.body())
      assert(fedDot.headers().firstValue("Content-Type").orElse("")
        .contains("escaping=allow-utf-8"))
      val fedLegacy = get(port, s"/federate?match[]=$mDot")
      assert(fedLegacy.statusCode() == 200, fedLegacy.body())
      assert(fedLegacy.body().trim ==
        s"""http_req_total{host="a"} 3.25 ${now - 5000}""",
        fedLegacy.body())
      assert(!fedLegacy.headers().firstValue("Content-Type").orElse("")
        .contains("allow-utf-8"))
      // Underscore-escaping can COLLIDE distinct series (round 15,
      // advisor): 'http.req.total' and 'http_req_total' both escape to
      // 'http_req_total'. A legacy scrape must emit ONE line per escaped
      // identity (the newest sample) — duplicate samples make a
      // federating Prometheus reject the whole scrape. Under allow-utf-8
      // the spellings stay distinct and BOTH series federate.
      val classicTwin = RemoteWrite.encode(Seq(graft.metric.Sample(
        "http_req_total", Map("host" -> "a"), now - 2000, 9.0)))
      assert(post(port, "/api/v1/write", classicTwin).statusCode() == 204)
      val mTwin = java.net.URLEncoder.encode(
        """{__name__=~"http.req.total|http_req_total"}""", "UTF-8")
      val legacyTwin = get(port, s"/federate?match[]=$mTwin")
      val twinLines = legacyTwin.body().split("\n").toSeq
        .filter(_.startsWith("http_req_total{"))
      assert(twinLines == Seq(
        s"""http_req_total{host="a"} 9.0 ${now - 2000}"""),
        legacyTwin.body())
      val utf8Twin = getAccept(port, s"/federate?match[]=$mTwin",
        "text/plain;version=0.0.4;escaping=allow-utf-8")
      val utf8Lines = utf8Twin.body().split("\n").toSeq.filter(_.nonEmpty)
      assert(utf8Lines.size == 2, utf8Twin.body())
      // label KEYS colliding WITHIN one series after escaping ('zone.x'
      // and 'zone_x' both escape to 'zone_x'): the legacy line keeps the
      // first sorted key only — duplicate label names in one exposition
      // line are a scrape-rejecting parse error
      val keyClash = RemoteWrite.encode(Seq(graft.metric.Sample(
        "kc_metric", Map("zone.x" -> "a", "zone_x" -> "b"),
        now - 1000, 1.5)))
      assert(post(port, "/api/v1/write", keyClash).statusCode() == 204)
      val mKc = java.net.URLEncoder.encode("kc_metric", "UTF-8")
      val kcLegacy = get(port, s"/federate?match[]=$mKc").body().trim
      assert(kcLegacy == s"""kc_metric{zone_x="a"} 1.5 ${now - 1000}""",
        kcLegacy)
      // under allow-utf-8 both keys survive (quoted spelling, distinct)
      val kcUtf8 = getAccept(port, s"/federate?match[]=$mKc",
        "text/plain;version=0.0.4;escaping=allow-utf-8").body().trim
      assert(kcUtf8 ==
        s"""kc_metric{"zone.x"="a",zone_x="b"} 1.5 ${now - 1000}""",
        kcUtf8)
    } finally fe.stop()
  }

  test("write bodies over the cap are rejected 413 before buffering") {
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-cap").toString)
    val fe = new HttpFrontend(spark, engine, maxWriteBodyBytes = 1024L)
    val port = fe.start()
    try {
      val big = new Array[Byte](64 * 1024)
      assert(post(port, "/api/v1/write", big).statusCode() == 413)
      // a small valid body still lands
      val ok = RemoteWrite.encode(samples(3, 0))
      assert(ok.length <= 1024)
      assert(post(port, "/api/v1/write", ok).statusCode() == 204)
    } finally fe.stop()
  }

  test("HTTP frontend ingests the reference's captured Prometheus workload " +
      "bytes and serves PromQL over them (equivalence_test.rs workloads)") {
    val dir = java.nio.file.Paths.get(
      "/root/reference/src/remote_write/tests/workloads")
    assume(Files.isDirectory(dir), "reference workloads absent")
    val bytes = Files.readAllBytes(dir.resolve("1709380533560664458.data"))
    val decoded = RemoteWrite.decode(bytes)
    assert(decoded.nonEmpty)

    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-http-wl").toString)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    try {
      assert(post(port, "/api/v1/write", bytes).statusCode() == 204)
      // pick a PromQL-clean metric name from the capture and count its
      // samples both ways: engine query vs the wire-decoded ground truth
      val byName = decoded.groupBy(_.name)
      val (name, expected) = byName
        .filter(_._1.matches("[a-zA-Z_][a-zA-Z0-9_]*"))
        .maxBy(_._2.size)
      val cnt = engine.query(MetricQuery(name, agg = MetricAgg.Count))
        .collect()(0).getDouble(0)
      assert(cnt == expected.size.toDouble, s"$name: $cnt vs ${expected.size}")
      val viaHttp = get(port,
        s"/query?promql=${java.net.URLEncoder.encode(s"sum($name)", "UTF-8")}")
      assert(viaHttp.statusCode() == 200)
      val direct = engine.queryPromQL(s"sum($name)",
        TimeRange(Long.MinValue, Long.MaxValue), None)
        .toJSON.collect().mkString("[", ",", "]")
      assert(viaHttp.body() == direct && viaHttp.body() != "[]")
    } finally fe.stop()
  }

  test("driver-local ingest runs no Spark jobs: remote-write 1.0, 2.0 and " +
      "OTLP POSTs with new or known series; only the first write after an " +
      "engine opens loads the tsid set; a query after a new series reloads " +
      "no dictionary") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftTestShims
    import graft.streaming.Otlp
    val root = Files.createTempDirectory("graft-http-zerojob").toString
    // a root that already holds series, so the reopened engine has a real
    // series table to load
    locally {
      import spark.implicits._
      new MetricEngine(spark, root).write(samples(30, 0).toDF())
    }
    // Each request runs alone, with nothing else on the session, so the
    // jobs started between its send and its response are its own.
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      GraftTestShims.drainListeners(spark)
      val before = jobs.get()
      f
      GraftTestShims.drainListeners(spark)
      jobs.get() - before
    }
    val engine = new MetricEngine(spark, root)
    val fe = new HttpFrontend(spark, engine)
    val port = fe.start()
    spark.sparkContext.addSparkListener(listener)
    try {
      def write(path: String, body: Array[Byte], code: Int = 204): Int =
        jobsOf(assert(post(port, path, body).statusCode() == code))
      def v1(ss: Seq[Sample]) =
        write("/api/v1/write", org.xerial.snappy.Snappy.compress(RemoteWrite.encode(ss)))
      def v2(ss: Seq[Sample]) =
        write("/api/v1/write", org.xerial.snappy.Snappy.compress(RemoteWrite.encodeV2(ss)))
      def otlp(host: String, at: Long) = write("/v1/metrics", Otlp.encode(
        Map("service.name" -> "api"), Seq(Otlp.MetricSpec("otlp_gauge",
          Seq(Otlp.Point(Map("host" -> host), at * 1000000L, 1.0))))), 200)
      def series(host: String, at: Long) =
        Seq(Sample("cpu_seconds_total", Map("host" -> host, "mode" -> "user"), at, 2.0))

      // the first write after the engine opens may run the tsid-set load —
      // one projection scan of the series table — and nothing else
      val load = jobsOf(engine.series.scan(graft.storage.ScanRequest(
        projection = Some(Seq("tsid")))).limit(100001).collect())
      val first = v1(samples(30, 100))
      assert(first <= load, s"first write ran $first jobs; the tsid load alone runs $load")
      // known series only, then new series under the known metric
      assert(v1(samples(30, 200)) == 0)
      assert(v1(series("v1-new", t0 + 300000L)) == 0)
      assert(v2(samples(30, 400)) == 0)
      assert(v2(series("v2-new", t0 + 500000L)) == 0)
      assert(otlp("otlp-new", t0 + 600000L) == 0)
      assert(otlp("otlp-new", t0 + 601000L) == 0)
      // exemplars and native histograms ride the same driver path
      val extras = RemoteWrite.encodeRequest(RemoteWrite.Request(
        series("hist-new", t0 + 700000L),
        Seq(RemoteWrite.Exemplar("cpu_seconds_total",
          Map("host" -> "hist-new", "mode" -> "user"), Map("trace_id" -> "t1"), 2.0,
          t0 + 700000L)),
        Nil,
        Seq(RemoteWrite.HistogramSample("req_seconds", Map("host" -> "hist-new"),
          t0 + 700000L, 3.0, 1.5, 0, 0.0, 0.0, Seq(0 -> 1.0, 1 -> 2.0), Nil))))
      assert(write("/api/v1/write", org.xerial.snappy.Snappy.compress(extras)) == 0)

      // every sample landed: 30 seed + 3×30 batches + 3 single-sample
      // series, and both OTLP points
      def count(metric: String) = engine.query(MetricQuery(metric,
        agg = MetricAgg.Count)).collect()(0).getDouble(0)
      assert(count("cpu_seconds_total") == 30 + 90 + 3)
      assert(count("otlp_gauge") == 2)
      assert(engine.histograms.scan().count() == 1)
      assert(engine.exemplars.scan().count() == 1)

      // a query after a write that adds a series — with a label key the
      // metric never had — under an existing metric runs the same jobs as
      // before it: no dictionary reload, and the new key is served
      def query(matcher: String, at: Long) = {
        val q = java.net.URLEncoder.encode(
          s"sum without (mode) (cpu_seconds_total{$matcher})", "UTF-8")
        val r = get(port, s"/api/v1/query?query=$q&time=${at / 1000}")
        assert(r.statusCode() == 200, r.body())
        r.body()
      }
      query("""host="v1-new"""", t0 + 300000L)
      var body = ""
      val warm = jobsOf { body = query("""host="v1-new"""", t0 + 300000L) }
      assert(body.contains(""""host":"v1-new""""), body)
      assert(v1(Seq(Sample("cpu_seconds_total",
        Map("host" -> "probe-new", "mode" -> "user", "probe" -> "p1"),
        t0 + 800000L, 2.0))) == 0)
      val after = jobsOf { body = query("""probe="p1"""", t0 + 800000L) }
      assert(body.contains(""""host":"probe-new"""") &&
        body.contains(""""probe":"p1""""), body)
      assert(after == warm, s"query after a new series ran $after jobs, warm $warm")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      fe.stop()
    }
  }
}
