package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.metric._
import graft.streaming._

object StreamingSpec {
  /** An OTLP body with one gauge point at `t0` (ms) whose attribute
    * `deep` holds `levels` nested array_values around the string "x". */
  def deepOtlpBody(levels: Int, t0: Long): Array[Byte] = {
    var any = new Wire.Writer().string(1, "x").toByteArray
    (1 to levels).foreach { _ =>
      any = new Wire.Writer().message(5)(_.bytes(1, any)).toByteArray
    }
    new Wire.Writer().message(1)(_.message(2)(_.message(2)(
      _.string(1, "temp").message(5)(_.message(1)(
        _.fixed64(3, t0 * 1000000L).double(4, 1.0)
          .message(7)(_.string(1, "deep").bytes(2, any))))))).toByteArray
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val t0 = 1723680000000L

  private def samples(n: Int, offset: Int = 0): Seq[Sample] =
    (0 until n).map(i => Sample("cpu_seconds_total",
      Map("host" -> s"h${i % 3}", "mode" -> "user"), t0 + (offset + i) * 1000L,
      (offset + i) * 1.5))

  test("remote-write codec round-trips (equivalence_test.rs analog)") {
    val in = samples(10) ++ Seq(
      Sample("mem_bytes", Map.empty, t0, 42.5),
      Sample("weird", Map("k" -> "v=,{}"), t0 + 5, -1.25))
    val decoded = RemoteWrite.decode(RemoteWrite.encode(in))
    assert(decoded.toSet == in.toSet)
    assert(decoded.size == in.size)
  }

  test("snappy-framed payloads round-trip; raw passes through (PRW 1.0 spec)") {
    val in = samples(10) ++ Seq(
      Sample("mem_bytes", Map.empty, t0, 42.5),
      Sample("weird", Map("k" -> "v=,{}"), t0 + 5, -1.25))
    val raw = RemoteWrite.encode(in)
    val framed = org.xerial.snappy.Snappy.compress(raw)
    assert(!java.util.Arrays.equals(framed, raw)) // actually compressed
    assert(RemoteWrite.decode(framed).toSet == in.toSet)
    assert(RemoteWrite.decode(raw).toSet == in.toSet) // raw still accepted
    // full-request path too
    assert(RemoteWrite.decodeRequest(framed).samples.toSet == in.toSet)
    // garbage that is neither snappy nor protobuf must not throw in unframe
    assert(RemoteWrite.unframe(Array[Byte]()).isEmpty)
  }

  test("OTLP codec: gauge/sum number points decode with resource+point " +
      "attributes, int and double values, gzip framing, name sanitization; " +
      "timestamp-less points skip") {
    import graft.streaming.Otlp
    val body = Otlp.encode(
      resourceAttrs = Map("service.name" -> "api", "host" -> "h1"),
      metrics = Seq(
        Otlp.MetricSpec("http.server.duration", Seq(
          Otlp.Point(Map("code" -> "200"), 1723680000000000000L, 1.5),
          // point attr overrides the resource attr on collision
          Otlp.Point(Map("host" -> "h2"), 1723680001000000000L, 2.5))),
        Otlp.MetricSpec("requests.total", Seq(
          Otlp.Point(Map.empty, 1723680002000000000L, 42.0, asInt = true)),
          sum = true),
        // ts == 0 → malformed point, skipped (not the whole request)
        Otlp.MetricSpec("broken", Seq(Otlp.Point(Map.empty, 0L, 9.9)))))
    val decoded = Otlp.decode(body)
    assert(decoded.toSet == Set(
      graft.metric.Sample("http_server_duration",
        Map("service_name" -> "api", "host" -> "h1", "code" -> "200"),
        1723680000000L, 1.5),
      graft.metric.Sample("http_server_duration",
        Map("service_name" -> "api", "host" -> "h2"), 1723680001000L, 2.5),
      graft.metric.Sample("requests_total",
        Map("service_name" -> "api", "host" -> "h1"), 1723680002000L, 42.0)),
      decoded.toString)
    // gzip framing (what OTLP/HTTP exporters send) decodes identically
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(body); gz.close()
    assert(Otlp.decode(Otlp.unframe(bos.toByteArray)).toSet == decoded.toSet)
    assert(Otlp.sanitizeName("9things.bad-chars/μ") == "_9things_bad_chars__")
    // crafted length varints error, never spin (shared hardening)
    assertThrows[RuntimeException](Otlp.decode(
      Array[Byte](0x0a, 0xFA.toByte, 0xFF.toByte, 0xFF.toByte,
        0xFF.toByte, 0x0F)))
  }

  test("OTLP guards: delta-temporality sums dropped, no-value and " +
      "staleness-flagged points skipped, nameless metrics skipped, " +
      "gzip expansion capped") {
    import graft.streaming.Otlp
    val ts = 1723680000000000000L
    val decoded = Otlp.decode(Otlp.encode(Map.empty, Seq(
      // delta sum: per-interval increments would corrupt rate() — dropped
      Otlp.MetricSpec("delta_sum", Seq(Otlp.Point(Map.empty, ts, 5.0)),
        sum = true, deltaTemporality = true),
      // cumulative sum: kept
      Otlp.MetricSpec("cum_sum", Seq(Otlp.Point(Map.empty, ts, 6.0)),
        sum = true),
      // no value field → phantom 0.0 guard; staleness flag → skipped
      Otlp.MetricSpec("gaps", Seq(
        Otlp.Point(Map.empty, ts, 0.0, noValue = true),
        Otlp.Point(Map.empty, ts + 1000000L, 7.0, flags = 1L),
        Otlp.Point(Map.empty, ts + 2000000L, 8.0))),
      // nameless metric → unaddressable "" series — skipped
      Otlp.MetricSpec("", Seq(Otlp.Point(Map.empty, ts, 9.0))))))
    assert(decoded.map(s => (s.name, s.value)).toSet ==
      Set(("cum_sum", 6.0), ("gaps", 8.0)), decoded.toString)
    // gzip bomb: 64 MB of zeros compresses to ~64 KB; the unframe cap
    // rejects it instead of inflating onto the heap
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    val zeros = new Array[Byte](1 << 20)
    (0 until 64).foreach(_ => gz.write(zeros))
    gz.close()
    val bomb = bos.toByteArray
    assert(bomb.length < (1 << 20), s"bomb premise: ${bomb.length}")
    assertThrows[Otlp.DecompressedTooLarge](
      Otlp.unframe(bomb, maxDecompressed = 4 << 20))
  }

  test("OTLP monotonic cumulative sums gain the _total counter suffix; " +
      "gauges, non-monotonic sums, and already-suffixed names don't") {
    import graft.streaming.Otlp
    val ts = 1723680000000000000L
    val d = Otlp.decode(Otlp.encode(Map.empty, Seq(
      Otlp.MetricSpec("requests", Seq(Otlp.Point(Map.empty, ts, 5.0)),
        sum = true, monotonic = true),
      Otlp.MetricSpec("requests.total", Seq(Otlp.Point(Map.empty, ts, 6.0)),
        sum = true, monotonic = true), // sanitizes to _total: no double
      Otlp.MetricSpec("queue.depth", Seq(Otlp.Point(Map.empty, ts, 7.0)),
        sum = true), // non-monotonic: an up-down counter, no suffix
      Otlp.MetricSpec("temp", Seq(Otlp.Point(Map.empty, ts, 8.0))))))
    assert(d.map(s => (s.name, s.value)).toSet == Set(
      ("requests_total", 5.0), ("requests_total", 6.0),
      ("queue_depth", 7.0), ("temp", 8.0)), d.toString)
  }

  test("OTLP NoUTF8EscapingWithSuffixes (utf8Names=true): dotted metric " +
      "and attribute names pass through verbatim with the _total rule " +
      "intact, and the ingested series serve via the quoted selector") {
    import graft.streaming.Otlp
    val ts = 1723680000000000000L
    val body = Otlp.encode(Map("service.name" -> "api"), Seq(
      Otlp.MetricSpec("http.server.req", Seq(
        Otlp.Point(Map("http.method" -> "GET"), ts, 7.0)),
        sum = true, monotonic = true),
      Otlp.MetricSpec("queue.depth", Seq(Otlp.Point(Map.empty, ts, 3.5)))))
    // default translation unchanged: sanitize, then suffix
    val classic = Otlp.decode(body)
    assert(classic.map(s => (s.name, s.labels)).toSet == Set(
      ("http_server_req_total",
        Map("service_name" -> "api", "http_method" -> "GET")),
      ("queue_depth", Map("service_name" -> "api"))))
    // UTF-8 mode: names verbatim; the suffix check runs on the RAW name
    // (exactly Prometheus's NoUTF8EscapingWithSuffixes)
    val utf8 = Otlp.decode(body, utf8Names = true)
    assert(utf8.map(s => (s.name, s.labels)).toSet == Set(
      ("http.server.req_total",
        Map("service.name" -> "api", "http.method" -> "GET")),
      ("queue.depth", Map("service.name" -> "api"))))
    // end to end: UTF-8-decoded samples ingest and serve through the
    // quoted selector syntax; the dotted label prunes via the index
    val e = new MetricEngine(spark,
      Files.createTempDirectory("graft-otlp-utf8").toString)
    MetricStreamIngest.ingestDecoded(e, spark, utf8)
    val got = e.queryPromQL(
        """{"http.server.req_total", "http.method"="GET"}""",
        graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(got == Seq(7.0))
  }

  test("OTLP exemplars decode with trace/span hex labels and the " +
      "point's series labels; timeless ones and delta metrics' drop") {
    import graft.streaming.Otlp
    val ts = 1723680000000000000L
    val d = Otlp.decodeAll(Otlp.encode(Map("service.name" -> "api"), Seq(
      Otlp.MetricSpec("req.total", Seq(
        Otlp.Point(Map("code" -> "200"), ts, 41.0, exemplars = Seq(
          Otlp.ExemplarSpec(Map("peer" -> "x"), ts + 1000000L, 0.25,
            traceIdHex = "0af7651916cd43dd8448eb211c80319c",
            spanIdHex = "b7ad6b7169203331"),
          Otlp.ExemplarSpec(Map.empty, 0L, 1.0)))), // timeless → skipped
        sum = true),
      Otlp.MetricSpec("delta.ctr", Seq(
        Otlp.Point(Map.empty, ts, 1.0, exemplars = Seq(
          Otlp.ExemplarSpec(Map.empty, ts, 9.0)))),
        sum = true, deltaTemporality = true),
      // a SKIPPED point (staleness flag) drops its exemplars with it —
      // the series the exemplar would attach to was never ingested
      Otlp.MetricSpec("stale.gauge", Seq(
        Otlp.Point(Map.empty, ts, 5.0, flags = 1L, exemplars = Seq(
          Otlp.ExemplarSpec(Map.empty, ts, 3.0))))))))
    assert(d.samples.map(_.name) == Seq("req_total"))
    assert(d.exemplars.length == 1)
    val x = d.exemplars.head
    assert(x.name == "req_total" && x.value == 0.25 &&
      x.timestamp == ts / 1000000L + 1)
    assert(x.seriesLabels ==
      Map("service_name" -> "api", "code" -> "200"))
    assert(x.labels == Map("peer" -> "x",
      "trace_id" -> "0af7651916cd43dd8448eb211c80319c",
      "span_id" -> "b7ad6b7169203331"))
  }

  test("OTLP summaries translate to the _sum/_count/quantile series " +
      "triple with Go-rendered quantile labels; stale points skip") {
    import graft.streaming.Otlp
    val ts = 1723680000000000000L
    val d = Otlp.decodeAll(Otlp.encode(Map("service.name" -> "api"), Seq(
      Otlp.MetricSpec("rpc.lat", Nil, summaryPoints = Seq(
        Otlp.SummaryPoint(Map("host" -> "h1"), ts, count = 10, sum = 42.5,
          quantiles = Seq((0.5, 1.5), (0.99, 7.25), (0.0005, 0.25))),
        Otlp.SummaryPoint(Map.empty, ts, 1, 1.0,
          quantiles = Seq((0.5, 1.0)), flags = 1L))))))
    assert(d.histograms.isEmpty)
    val got = d.samples
      .map(s => (s.name, s.labels.getOrElse("quantile", "-"), s.value)).toSet
    assert(got == Set(
      ("rpc_lat_sum", "-", 42.5),
      ("rpc_lat_count", "-", 10.0),
      ("rpc_lat", "0.5", 1.5),
      ("rpc_lat", "0.99", 7.25),
      ("rpc_lat", "0.0005", 0.25)), got.toString) // 5.0E-4 renders plain
    assert(d.samples.forall(s =>
      s.labels.get("service_name").contains("api") &&
        s.labels.get("host").contains("h1") &&
        s.timestamp == ts / 1000000L))
  }

  test("OTLP native histograms: exponential points decode with the +1 " +
      "index shift, scale>8 downscales by pair-merging, scale<-4 and " +
      "delta temporality drop; fixed-bucket points become NHCB; the " +
      "mixed payload ingests to histogram_quantile end-to-end") {
    import graft.streaming.Otlp
    val ts = 1723680000000000000L
    val body = Otlp.encode(Map("service.name" -> "api"), Seq(
      Otlp.MetricSpec("g", Seq(Otlp.Point(Map.empty, ts, 1.0))),
      Otlp.MetricSpec("exp.hist", Nil, expPoints = Seq(
        Otlp.ExpHistPoint(Map("host" -> "h1"), ts, count = 10, sum = 30.0,
          scale = 0, zeroCount = 2, posOffset = 0, posCounts = Seq(3, 0, 5),
          zeroThreshold = 0.001))),
      Otlp.MetricSpec("hi.res", Nil, expPoints = Seq(
        Otlp.ExpHistPoint(Map.empty, ts, count = 6, sum = 6.0, scale = 9,
          zeroCount = 0, posOffset = 2, posCounts = Seq(1, 2, 3)))),
      Otlp.MetricSpec("too.coarse", Nil, expPoints = Seq(
        Otlp.ExpHistPoint(Map.empty, ts, 1, 1.0, scale = -5, zeroCount = 0,
          posOffset = 0, posCounts = Seq(1)))),
      Otlp.MetricSpec("delta.hist", Nil, deltaTemporality = true,
        expPoints = Seq(
          Otlp.ExpHistPoint(Map.empty, ts, 1, 1.0, scale = 0, zeroCount = 0,
            posOffset = 0, posCounts = Seq(1)))),
      Otlp.MetricSpec("classic", Nil, histPoints = Seq(
        Otlp.HistPoint(Map("path" -> "/x"), ts, count = 10, sum = 25.0,
          bucketCounts = Seq(2, 5, 3), explicitBounds = Seq(1.0, 5.0))))))
    val d = Otlp.decodeAll(body)
    assert(d.samples.map(_.name) == Seq("g"))
    val byName = d.histograms.groupBy(_.name)
    assert(byName.keySet == Set("exp_hist", "hi_res", "classic"))
    val eh = byName("exp_hist").head
    assert(eh.labels == Map("service_name" -> "api", "host" -> "h1"))
    assert(eh.timestamp == ts / 1000000L)
    assert(eh.count == 10.0 && eh.sum == 30.0 && eh.schema == 0 &&
      eh.zeroCount == 2.0 && eh.zeroThreshold == 0.001)
    // OTLP offset-0 buckets (1,2],(2,4],(4,8] → Prometheus indexes 1, 3
    assert(eh.positiveBuckets == Seq((1, 3.0), (3, 5.0)))
    val hr = byName("hi_res").head
    assert(hr.schema == 8)
    // scale-9 prom indexes 3,4,5 merge to 2,2,3 at schema 8
    assert(hr.positiveBuckets == Seq((2, 3.0), (3, 3.0)))
    val ch = byName("classic").head
    assert(ch.schema == -53 && ch.customValues == Seq(1.0, 5.0))
    assert(ch.positiveBuckets == Seq((0, 2.0), (1, 5.0), (2, 3.0)))
    // end-to-end: ingest → quantiles, incl. the +Inf overflow bucket
    val e = new MetricEngine(spark,
      Files.createTempDirectory("graft-otlp-nh").toString)
    MetricStreamIngest.ingestHistograms(e, spark, d.histograms)
    val q = e.histogramQuantile("classic", Seq(0.5, 0.95),
        graft.storage.TimeRange(0, Long.MaxValue))
      .collect().map(r => r.getAs[Double]("phi") -> r.getAs[Double]("value"))
      .toMap
    // rank 5 of 10 → bucket (1,5] cum 2→7: 1 + 4*(3/5) = 3.4
    assert(math.abs(q(0.5) - 3.4) < 1e-9, q.toString)
    // rank 9.5 lands in the (5, +Inf) overflow → highest finite bound
    assert(q(0.95) == 5.0, q.toString)
  }

  test("remote-read codec: request and response round-trip, snappy framing, " +
      "packed and unpacked accepted types, chunks-only rejected") {
    import graft.streaming.RemoteRead
    val qs = Seq(
      RemoteRead.Query(1000L, 2000L, Seq(
        RemoteRead.Matcher(0, "__name__", "cpu"),
        RemoteRead.Matcher(2, "host", "h\\d+"))),
      RemoteRead.Query(0L, 9999L, Seq(RemoteRead.Matcher(1, "dc", "eu"))))
    // raw and snappy-framed requests both decode
    val raw = RemoteRead.encodeRequest(qs)
    assert(RemoteRead.decodeRequest(raw) == qs)
    assert(RemoteRead.decodeRequest(
      org.xerial.snappy.Snappy.compress(raw)) == qs)
    // SAMPLES accepted explicitly (packed) decodes; chunks-only rejected
    assert(RemoteRead.decodeRequest(
      RemoteRead.encodeRequest(qs, acceptedResponseTypes = Seq(0, 1))) == qs)
    assertThrows[IllegalArgumentException](RemoteRead.decodeRequest(
      RemoteRead.encodeRequest(qs, acceptedResponseTypes = Seq(1))))
    // response round-trip: label and sample order normalize to sorted
    val series = Seq(Seq(
      RemoteRead.Series(Seq("host" -> "a", "__name__" -> "cpu"),
        Seq((2000L, 2.5), (1000L, 1.5))),
      RemoteRead.Series(Seq("__name__" -> "cpu", "host" -> "b"),
        Seq((1500L, -7.25)))), Nil)
    val back = RemoteRead.decodeResponse(
      org.xerial.snappy.Snappy.compress(RemoteRead.encodeResponse(series)))
    assert(back.length == 2 && back(1).isEmpty)
    assert(back(0) == Seq(
      RemoteRead.Series(Seq("__name__" -> "cpu", "host" -> "a"),
        Seq((1000L, 1.5), (2000L, 2.5))),
      RemoteRead.Series(Seq("__name__" -> "cpu", "host" -> "b"),
        Seq((1500L, -7.25)))))
    // crafted length varints error instead of spinning (shared hardening)
    assertThrows[RuntimeException](RemoteRead.decodeRequest(
      Array[Byte](0x0a, 0xFA.toByte, 0xFF.toByte, 0xFF.toByte,
        0xFF.toByte, 0x0F)))
  }

  test("raw body that also validates as snappy is NOT decompressed into garbage") {
    // Crafted collision: as protobuf, field 1 wire 2 length 4 (a WriteRequest
    // with one 4-byte timeseries); as snappy, declared size 10 = literal(2)
    // [0x18 0x00] + copy-1(len 8, offset 1) — decompresses to garbage that
    // does not walk as a protobuf message. unframe must keep the raw bytes.
    val bytes = Array[Byte](0x0a, 0x04, 0x18, 0x00, 0x11, 0x01)
    assert(org.xerial.snappy.Snappy.isValidCompressedBuffer(bytes, 0, bytes.length),
      "collision premise: the crafted bytes must validate as snappy")
    assert(RemoteWrite.unframe(bytes).sameElements(bytes))
    // and a decode of the raw body fails cleanly (a 400 at the edge): its
    // one series ends inside a fixed64 field (tag 0x11, then one byte),
    // which the bounded reader refuses instead of skipping past the
    // record's end
    intercept[RuntimeException](RemoteWrite.decodeRequest(bytes))
  }

  test("decodes the reference's captured Prometheus workloads " +
      "(equivalence_test.rs:18-24 cross-implementation check)") {
    // Two ~1.7 MB real remote-write captures checked into the reference repo
    // (src/remote_write/tests/workloads/*.data), which the reference proves
    // its pooled parser against prost on. Expected totals below were computed
    // by an INDEPENDENT wire-format walker (not this codebase's decoder), so
    // a symmetric encode/decode bug — invisible to round-trip tests — fails
    // here: (file, series count, wire label count, Σ timestamps, Σ values,
    // distinct metric names).
    val cases = Seq(
      ("1709380533560664458.data", 10000, 64383, 17093805594622430L,
        2.8592504637271107e20, 220),
      ("1709380533705807779.data", 10000, 64389, 17093805596565068L,
        3.043717904515795e20, 220))
    val dir = java.nio.file.Paths.get(
      "/root/reference/src/remote_write/tests/workloads")
    assume(java.nio.file.Files.isDirectory(dir), "reference workloads absent")
    for ((name, nSeries, nLabels, tsSum, valSum, nNames) <- cases) {
      val bytes = java.nio.file.Files.readAllBytes(dir.resolve(name))
      val got = RemoteWrite.decode(bytes)
      assert(got.size == nSeries, s"$name series")
      // wire label count includes __name__, which decode() lifts out
      assert(got.map(s => s.labels.size + (if (s.name.nonEmpty) 1 else 0)).sum
        == nLabels, s"$name labels")
      assert(got.map(_.timestamp).sum == tsSum, s"$name ts sum")
      val v = got.map(_.value).sum
      assert(math.abs(v - valSum) <= math.abs(valSum) * 1e-12, s"$name value sum $v")
      assert(got.map(_.name).filter(_.nonEmpty).distinct.size == nNames, s"$name names")
      // a snappy-framed copy of the same capture decodes identically (the
      // production HTTP body shape; unframe sniff must not corrupt it)
      val framed = org.xerial.snappy.Snappy.compress(bytes)
      assert(RemoteWrite.decode(framed) == got, s"$name snappy-framed")
    }
  }

  test("decode skips unknown fields (forward compat)") {
    // append an unknown field 9 (varint) at top level
    val bytes = RemoteWrite.encode(samples(2)) ++ Array[Byte](
      ((9 << 3) | 0).toByte, 0x7f.toByte)
    assert(RemoteWrite.decode(bytes).size == 2)
    // One row per nested record: the payload is built once plain and once
    // with an unknown varint field (14) and an unknown fixed64 field (15)
    // appended to that record; both must decode to the same value (a
    // Label read as "every field is length-delimited" takes `0x70 0x64`
    // for a 100-byte string and fails).
    def unknown(w: Wire.Writer): Unit = { w.varint(14, 100).fixed64(15, 0x0102030405060708L); () }
    def v1(rec: String): Array[Byte] = {
      def x(at: String)(w: Wire.Writer): Unit = if (at == rec) unknown(w)
      new Wire.Writer().message(1) { ts =>
        ts.message(1) { l => l.string(1, "__name__").string(2, "up"); x("label")(l) }
        ts.message(1)(_.string(1, "job").string(2, "api"))
        ts.message(2) { sm => sm.double(1, 1.5).varint(2, t0); x("sample")(sm) }
        x("series")(ts)
      }.toByteArray
    }
    def v2(rec: String): Array[Byte] = {
      val w = new Wire.Writer
      Seq("", "__name__", "up", "job", "api").foreach(w.string(4, _))
      w.message(5) { ts =>
        ts.packedVarints(1, Seq(1L, 2L, 3L, 4L))
        ts.message(2)(_.double(1, 1.5).varint(2, t0))
        if (rec == "series") unknown(ts)
      }.toByteArray
    }
    def read(rec: String): Array[Byte] =
      new Wire.Writer().message(1) { q =>
        q.varint(1, t0).varint(2, t0 + 60000L)
        q.message(3) { m =>
          m.varint(1, 2L).string(2, "job").string(3, "a.*")
          if (rec == "matcher") unknown(m)
        }
        if (rec == "query") unknown(q)
      }.packedVarints(2, Seq(0L)).toByteArray
    def otlp(rec: String): Array[Byte] =
      new Wire.Writer().message(1)(_.message(2)(_.message(2) { m =>
        m.string(1, "temp").message(5)(_.message(1) { dp =>
          dp.fixed64(3, t0 * 1000000L).double(4, 21.5)
          dp.message(7) { kv =>
            kv.string(1, "room").message(2)(_.string(1, "lab"))
            if (rec == "keyvalue") unknown(kv)
          }
          if (rec == "point") unknown(dp)
        })
      })).toByteArray
    val rows: Seq[(String, String, String => Array[Byte], Array[Byte] => Any)] = Seq(
      ("v1 Label", "label", v1, RemoteWrite.decodeRequest),
      ("v1 Sample", "sample", v1, RemoteWrite.decodeRequest),
      ("v1 TimeSeries", "series", v1, RemoteWrite.decodeRequest),
      ("v2 TimeSeries", "series", v2, RemoteWrite.decodeRequest),
      ("ReadRequest Query", "query", read, RemoteRead.decodeReadRequest),
      ("ReadRequest Matcher", "matcher", read, RemoteRead.decodeReadRequest),
      ("OTLP NumberDataPoint", "point", otlp, Otlp.decodeAll(_)),
      ("OTLP KeyValue", "keyvalue", otlp, Otlp.decodeAll(_)))
    rows.foreach { case (name, rec, build, decode) =>
      val plain = build("")
      val extended = build(rec)
      assert(extended.length == plain.length + 11, s"$name: fields not appended")
      val want = decode(plain)
      val got = scala.util.Try(decode(extended))
      assert(got == scala.util.Success(want), s"$name: $got != $want")
    }
    // the plain payloads decode to what they were built from
    assert(RemoteWrite.decode(v1("")) ==
      Seq(Sample("up", Map("job" -> "api"), t0, 1.5)))
    assert(RemoteWrite.decode(v2("")) == RemoteWrite.decode(v1("")))
    assert(RemoteRead.decodeReadRequest(read("")) == RemoteRead.ReadRequest(
      Seq(RemoteRead.Query(t0, t0 + 60000L, Seq(RemoteRead.Matcher(2, "job", "a.*")))),
      Seq(0)))
    assert(Otlp.decode(otlp("")) == Seq(Sample("temp", Map("room" -> "lab"), t0, 21.5)))
  }

  test("watermarked 30-min chunk building over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    val q = StreamAggregates.chunked30m(stream.toDS(), watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("chunks").start()
    try {
      stream.addData(samples(10)) // t0 .. t0+9s, all one 30-min window
      q.processAllAvailable()
      // advance event time far past the watermark so the window closes
      stream.addData(Sample("cpu_seconds_total", Map("host" -> "h0", "mode" -> "user"),
        t0 + 3 * 3600 * 1000L, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT name, chunk_start, n_samples FROM chunks").collect()
    // one closed-window chunk PER SERIES (3 hosts); later window still open
    assert(rows.length == 3)
    assert(rows.map(_.getLong(2)).sum == 10)
    assert(rows.forall(_.getLong(1) == t0 - (t0 % 1800000L)))
  }

  test("streaming rate: chained stateful delta + windowed sum, reset-aware") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    def s(host: String, sec: Long, v: Double) =
      Sample("req_total", Map("host" -> host), t0 + sec * 1000L, v)
    val q = StreamAggregates.streamingRate(stream.toDS(), "req_total", "host",
        stepMs = 60000L, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("srate").start()
    try {
      // window [0,60s): h0 10 -> 13 -> 2 (counter reset: delta = 2) -> 4
      //                 h1 100 -> 107
      stream.addData(s("h0", 0, 10), s("h1", 1, 100), s("h0", 10, 13))
      q.processAllAvailable()
      stream.addData(s("h0", 20, 2), s("h0", 30, 4), s("h1", 40, 107))
      q.processAllAvailable()
      // window [60s,120s): h0 4 -> 9; then advance far past so it closes
      stream.addData(s("h0", 70, 9))
      q.processAllAvailable()
      stream.addData(s("h0", 3600, 9))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT uid, bucket_ms, increase FROM srate").collect()
      .map(r => (r.getString(0), r.getLong(1) - t0, r.getDouble(2))).toSet
    // h0 [0,60): (13-10) + 2 + (4-2) = 7; h1 [0,60): 7; h0 [60,120): 9-4 = 5
    assert(got == Set(("h0", 0L, 7.0), ("h1", 0L, 7.0), ("h0", 60000L, 5.0)))
  }

  test("session windows merge across micro-batches; emit on watermark close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val M = 60000L
    val q = StreamAggregates.sessionize(
        stream.toDS().toDF("user_id", "tms")
          .withColumn("ts", timestamp_millis(col("tms"))),
        "user_id", "ts", gap = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("ssess").start()
    try {
      // u1's session spans two micro-batches (20min gap < 30min → merged);
      // u2 opens, goes idle > gap, opens a second session
      stream.addData((1L, 0L), (1L, 10 * M), (2L, 0L))
      q.processAllAvailable()
      stream.addData((1L, 30 * M), (2L, 45 * M))
      q.processAllAvailable()
      // advance the watermark far enough to close everything open
      stream.addData((9L, 1000 * M))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM ssess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 0L, 60 * M, 3L),       // 0,10,30min merged; end = 30min + gap
      (2L, 0L, 30 * M, 1L),       // closed by the 45min event's watermark
      (2L, 45 * M, 75 * M, 1L)))  // second session after the idle gap
  }

  test("stream-stream interval join matches across micro-batches in-window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val M = 60000L
    val lStream = MemoryStream[(Long, Long, Long)] // key, id, tms
    val rStream = MemoryStream[(Long, Long, Long)]
    val q = StreamJoins.intervalJoin(
        lStream.toDS().toDF("k", "l_id", "l_tms")
          .withColumn("l_ts", timestamp_millis(col("l_tms"))), "l_ts",
        rStream.toDS().toDF("k", "r_id", "r_tms")
          .withColumn("r_ts", timestamp_millis(col("r_tms"))), "r_ts",
        Seq("k"), lookbackMs = 30 * M, watermark = "10 minutes")
      .select(col("k"), col("l_id"), col("r_id"))
      .writeStream.outputMode("append").format("memory").queryName("sij").start()
    try {
      // Timeline starts at 60min, NOT epoch 0 — a row sitting exactly on
      // the initial watermark (epoch 0) is boundary-filtered by the join's
      // state predicates; real event time is never at epoch 0.
      // batch 1: right rows only — they wait in state for a future left
      rStream.addData((1L, 100L, 60 * M), (1L, 101L, 85 * M), (2L, 200L, 60 * M))
      q.processAllAvailable()
      // batch 2: left at 90min matches r100 (boundary: 30min lookback
      // includes 60min exactly) and r101; key 2's left at 100min misses
      // r200 (gap 40min > 30min); key 3 has no right side at all
      lStream.addData((1L, 10L, 90 * M), (2L, 20L, 100 * M), (3L, 30L, 70 * M))
      q.processAllAvailable()
      // batch 3: a later left still matches retained right state (r100 at
      // 60min, gap 20min); r101 at 85min is AFTER l11 at 80min — lookback,
      // not lookahead, so no pair
      lStream.addData((1L, 11L, 80 * M))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT k, l_id, r_id FROM sij")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 100L), (1L, 10L, 101L), (1L, 11L, 100L)))
  }

  test("streaming exact dedup: same-fingerprint docs dropped within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val docs = stream.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = StreamDedup.byFingerprint(docs, "text", "ts")
      .writeStream.outputMode("append").format("memory").queryName("sdedup").start()
    try {
      stream.addData((1L, "The Cat", 1000L), (3L, "other words", 2000L))
      q.processAllAvailable()
      // doc 2 normalizes to doc 1's fingerprint (case/space-insensitive) and
      // arrives inside the watermark → dropped; doc 4 is new → kept
      stream.addData((2L, "the cat", 3000L), (4L, "fresh content", 4000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT doc_id FROM sdedup").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L))
  }

  test("PromQL text as a continuous query: windowed max by host with matchers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    val step = 60000L
    val q = StreamAggregates.promqlStream(stream.toDS(),
      """max by (host) (cpu_seconds_total{mode="user", host=~"h[01]"})""",
      stepMs = step, watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("pql").start()
    try {
      stream.addData(
        Sample("cpu_seconds_total", Map("host" -> "h0", "mode" -> "user"), t0, 2.0),
        Sample("cpu_seconds_total", Map("host" -> "h0", "mode" -> "user"), t0 + 1000, 7.0),
        Sample("cpu_seconds_total", Map("host" -> "h1", "mode" -> "user"), t0 + 2000, 3.0),
        Sample("cpu_seconds_total", Map("host" -> "h1", "mode" -> "sys"), t0, 99.0),   // mode filtered
        Sample("cpu_seconds_total", Map("host" -> "h2", "mode" -> "user"), t0, 50.0),  // host regex filtered
        Sample("mem_bytes", Map("host" -> "h0", "mode" -> "user"), t0, 123.0))         // metric filtered
      q.processAllAvailable()
      // push event time past the watermark so the first window closes
      stream.addData(Sample("cpu_seconds_total",
        Map("host" -> "h0", "mode" -> "user"), t0 + 3600 * 1000L, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT host, bucket_ms, value FROM pql").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(
      ("h0", t0 - t0 % step, 7.0),
      ("h1", t0 - t0 % step, 3.0)))
  }

  test("streaming PromQL groups by UTF-8 (dotted) label names like the " +
      "batch evaluators (round 15: quoted by-list syntax reaches this " +
      "executor too)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    val step = 60000L
    val q = StreamAggregates.promqlStream(stream.toDS(),
      """sum by ("service.name") (req{"host.name"=~"h[01]"})""",
      stepMs = step, watermark = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("pql_dotted").start()
    try {
      stream.addData(
        Sample("req", Map("service.name" -> "api", "host.name" -> "h0"), t0, 2.0),
        Sample("req", Map("service.name" -> "api", "host.name" -> "h1"), t0 + 1000, 7.0),
        Sample("req", Map("service.name" -> "worker", "host.name" -> "h0"), t0 + 2000, 3.0),
        Sample("req", Map("service.name" -> "api", "host.name" -> "h9"), t0, 99.0)) // filtered
      q.processAllAvailable()
      stream.addData(Sample("req",
        Map("service.name" -> "api", "host.name" -> "h0"),
        t0 + 3600 * 1000L, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val dotted = spark.sql("SELECT * FROM pql_dotted")
    assert(dotted.columns.contains("service.name"))
    val rows = dotted.collect()
      .map(r => (r.getAs[String]("service.name"), r.getAs[Double]("value")))
      .toSet
    assert(rows == Set(("api", 9.0), ("worker", 3.0)))
  }

  test("streaming PromQL groups absent by-labels as \"\" like the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    val step = 60000L
    val q = StreamAggregates.promqlStream(stream.toDS(),
      "sum by (mode) (cpu_seconds_total)", stepMs = step, watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("pql_nolabel").start()
    try {
      stream.addData(
        Sample("cpu_seconds_total", Map("host" -> "h0", "mode" -> "user"), t0, 2.0),
        Sample("cpu_seconds_total", Map("host" -> "h1"), t0 + 1000, 3.0), // no mode label
        Sample("cpu_seconds_total", Map("host" -> "h2"), t0 + 2000, 4.0)) // no mode label
      q.processAllAvailable()
      stream.addData(Sample("cpu_seconds_total",
        Map("host" -> "h0", "mode" -> "user"), t0 + 3600 * 1000L, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT mode, value FROM pql_nolabel").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    // label-less series aggregate under "" (Prometheus semantics), not null
    assert(rows == Set(("user", 2.0), ("", 7.0)), rows)
  }

  test("remote-write exemplars and metadata round-trip; decode() ignores them") {
    import graft.streaming.RemoteWrite
    import graft.streaming.RemoteWrite.{Exemplar, Metadata, Request}
    val samples = Seq(
      Sample("http_requests_total", Map("code" -> "200"), 1000L, 5.0),
      Sample("http_requests_total", Map("code" -> "200"), 2000L, 7.0))
    val exemplars = Seq(
      Exemplar("http_requests_total", Map("code" -> "200"),
        Map("trace_id" -> "abc123"), 0.25, 1500L),
      // exemplar on a series with NO samples in this request
      Exemplar("http_latency", Map("path" -> "/x"),
        Map("span_id" -> "s1"), 1.5, 1700L))
    val metadata = Seq(Metadata(1, "http_requests_total", "requests", "1"))
    val bytes = RemoteWrite.encodeRequest(Request(samples, exemplars, metadata))
    val got = RemoteWrite.decodeRequest(bytes)
    assert(got.samples.toSet == samples.toSet)
    assert(got.exemplars.toSet == exemplars.toSet)
    assert(got.metadata == metadata)
    // the ingest fast path still reads the same samples, skipping the rest
    assert(RemoteWrite.decode(bytes).toSet == samples.toSet)
  }

  test("remote-write 2.0: symbol-interned requests decode through the SAME " +
      "entry points as 1.0 (top-level field sniff), snappy-framed or raw, " +
      "with exemplars, metadata, and detached metadata-only series") {
    import graft.streaming.RemoteWrite
    import graft.streaming.RemoteWrite.{Exemplar, Metadata, Request}
    val in = samples(10) ++ Seq(
      Sample("mem_bytes", Map.empty, t0, 42.5),
      Sample("weird", Map("k" -> "v=,{}"), t0 + 5, -1.25))
    // samples-only: auto-sniffed decode() equals the v1 result
    val v2 = RemoteWrite.encodeV2(in)
    assert(RemoteWrite.decode(v2).toSet == in.toSet)
    assert(RemoteWrite.decode(v2).size == in.size)
    assert(RemoteWrite.decode(org.xerial.snappy.Snappy.compress(v2)).toSet ==
      in.toSet)
    assert(RemoteWrite.decode(RemoteWrite.encode(in)).toSet == in.toSet,
      "v1 still decodes after the sniff")
    // full request: exemplars reference the symbols table; metadata has no
    // family ref (family = the series' __name__), and a family with no
    // series ships as a metadata-only series
    val exemplars = Seq(Exemplar("cpu_seconds_total",
      Map("host" -> "h0", "mode" -> "user"),
      Map("trace_id" -> "abc123"), 0.25, t0 + 500))
    val metadata = Seq(
      Metadata(1, "cpu_seconds_total", "cpu seconds", "seconds"),
      Metadata(2, "orphan_family", "no series here", "1"))
    val full = RemoteWrite.encodeRequestV2(Request(in, exemplars, metadata))
    val got = RemoteWrite.decodeRequest(full)
    assert(got.samples.toSet == in.toSet)
    assert(got.exemplars.toSet == exemplars.toSet)
    assert(got.metadata.toSet == metadata.toSet)
    // explicit-version entry point agrees with the sniffed one
    assert(RemoteWrite.decodeRequestV2(full).samples.toSet == in.toSet)
    // out-of-range symbol refs error loudly (never a silent mis-binding):
    // symbols=[""], one ts whose packed labels_refs is (0, 99)
    val bad = Array[Byte](0x22, 0x00, 0x2a, 0x04, 0x0a, 0x02, 0x00, 0x63)
    intercept[RuntimeException](RemoteWrite.decodeRequestV2(bad))
  }

  test("remote-write 2.0 native histograms: int (spans+deltas) and float " +
      "(absolute counts) histograms round-trip the v2 wire mixed with plain " +
      "samples, snappy-framed; v1 field-4 histograms decode too") {
    import graft.streaming.RemoteWrite
    import graft.streaming.RemoteWrite.{HistogramSample, Request}
    val plain = Seq(
      Sample("http_requests_total", Map("code" -> "200"), t0, 5.0),
      Sample("http_requests_total", Map("code" -> "200"), t0 + 1000, 7.0))
    val intHist = HistogramSample(
      "rpc_latency", Map("job" -> "api"), t0,
      count = 12, sum = 41.5, schema = 0, zeroThreshold = 0.001,
      zeroCount = 2,
      // spans with a gap: indexes 1,2 then 5 — exercises multi-span offsets
      positiveBuckets = Seq((1, 3.0), (2, 5.0), (5, 1.0)),
      negativeBuckets = Seq((0, 1.0)),
      resetHint = 1)
    val floatHist = HistogramSample(
      "rpc_latency", Map("job" -> "worker"), t0 + 500,
      count = 7.5, sum = 10.25, schema = 3, zeroThreshold = 0.0,
      zeroCount = 0.5,
      positiveBuckets = Seq((-2, 3.25), (4, 3.75)),
      negativeBuckets = Nil,
      floatHistogram = true)
    val nhcb = HistogramSample(
      "req_size", Map.empty, t0, count = 6, sum = 30.0, schema = -53,
      zeroThreshold = 0.0, zeroCount = 0,
      positiveBuckets = Seq((0, 2.0), (2, 4.0)), negativeBuckets = Nil,
      customValues = Seq(1.0, 5.0, 10.0))
    val spec = Request(plain, Nil, Nil, Seq(intHist, floatHist, nhcb))
    val framed = org.xerial.snappy.Snappy.compress(
      RemoteWrite.encodeRequestV2(spec))
    val got = RemoteWrite.decodeRequest(framed)
    assert(got.samples.toSet == plain.toSet)
    assert(got.histograms.toSet == Set(intHist, floatHist, nhcb))
    // samples fast path is unaffected by histogram records in the payload
    assert(RemoteWrite.decode(framed).toSet == plain.toSet)
    // v1 wire (prompb TimeSeries field 4) carries the same records
    val v1 = RemoteWrite.decodeRequest(RemoteWrite.encodeRequest(spec))
    assert(v1.histograms.toSet == Set(intHist, floatHist, nhcb))
    assert(v1.samples.toSet == plain.toSet)
  }

  test("native histograms ingest end-to-end: v2 payload → engine histograms " +
      "table (meta registered for histogram-only series, idempotent " +
      "re-delivery) → quantile readback") {
    import graft.streaming.RemoteWrite
    import graft.streaming.RemoteWrite.{HistogramSample, Request}
    val root = Files.createTempDirectory("graft-nh-e2e").toString
    val engine = new MetricEngine(spark, root)
    val h1 = HistogramSample(
      "rpc_latency", Map("job" -> "api"), t0,
      count = 10, sum = 21.0, schema = 0, zeroThreshold = 0.001,
      zeroCount = 2,
      positiveBuckets = Seq((1, 3.0), (2, 5.0)), negativeBuckets = Nil)
    val req = RemoteWrite.decodeRequest(
      RemoteWrite.encodeRequestV2(Request(Nil, Nil, Nil, Seq(h1))))
    MetricStreamIngest.ingestHistograms(engine, spark, req.histograms)
    // re-delivery upserts idempotently on (series, ts)
    MetricStreamIngest.ingestHistograms(engine, spark, req.histograms)
    val rows = engine.queryHistograms("""rpc_latency{job="api"}""",
      graft.storage.TimeRange(Long.MinValue, Long.MaxValue)).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("count") == 10.0)
    assert(rows.head.getAs[scala.collection.Seq[Int]]("pos_idx").toSeq ==
      Seq(1, 2))
    // schema 0 → base 2: zero [0,0.001] cnt 2; (1,2] cnt 3; (2,4] cnt 5
    // φ=0.5 → rank 5 → 1 + (2-1)·(5-2)/3 = 2.0
    // φ=0.9 → rank 9 → 2 + (4-2)·(9-5)/5 = 3.6
    val q = engine.histogramQuantile("""rpc_latency{job="api"}""",
        Seq(0.5, 0.9), graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
      .collect().map(r => r.getAs[Double]("phi") -> r.getAs[Double]("value"))
      .toMap
    assert(math.abs(q(0.5) - 2.0) < 1e-9)
    assert(math.abs(q(0.9) - 3.6) < 1e-9)
    // PromQL instant routing: histogram_quantile over a native-histogram
    // metric answers from the histograms table with full decoded labels
    val viaPromQL = engine.instantPromQL(
      """histogram_quantile(0.5, rpc_latency{job="api"})""", t0 + 1000)
      .collect()
    assert(viaPromQL.length == 1)
    assert(viaPromQL.head.getAs[String]("__name__") == "rpc_latency")
    assert(viaPromQL.head.getAs[String]("job") == "api")
    assert(math.abs(viaPromQL.head.getAs[Double]("value") - 2.0) < 1e-9)
    // a metric with NO native histogram rows falls through to the classic
    // le path (empty here — never silently answered from another metric's
    // native data)
    assert(engine.instantPromQL(
      """histogram_quantile(0.5, not_a_histogram)""", t0 + 1000)
      .collect().forall(r => r.isNullAt(r.fieldIndex("value"))))
    // the canonical dashboard shape: histogram_quantile over rate —
    // bucket-wise reset-aware increase across the window, then quantile.
    // Second sample: zero 2→1 (reset → +1), idx1 3→4 (+1), idx2 5→absent
    // (reset to 0 → +0), idx3 absent→2 (+2): increase hist
    // {zero:1, (1,2]:1, (2,4]:0, (4,8]:2}. COUNT rides the stored count
    // field as its own reset-aware counter (10→7 is a reset → 7), so
    // φ=0.5 → rank 3.5 → interpolates the (4,8] bucket at
    // 4 + 4·(1.5/2) = 7.0 (the count-vs-bucket-mass divergence is the
    // documented per-bucket reset dialect; see PROMQL.md)
    MetricStreamIngest.ingestHistograms(engine, spark, Seq(
      graft.streaming.RemoteWrite.HistogramSample(
        "rpc_latency", Map("job" -> "api"), t0 + 60000,
        count = 7, sum = 18.0, schema = 0, zeroThreshold = 0.001,
        zeroCount = 1, positiveBuckets = Seq((1, 4.0), (3, 2.0)),
        negativeBuckets = Nil)))
    val viaRate = engine.instantPromQL(
      """histogram_quantile(0.5, rate(rpc_latency{job="api"}[2m]))""",
      t0 + 61000).collect()
    assert(viaRate.length == 1, viaRate.mkString(";"))
    assert(viaRate.head.getAs[String]("job") == "api")
    assert(math.abs(viaRate.head.getAs[Double]("value") - 7.0) < 1e-9,
      viaRate.head.toString)
    // increase spells the same quantile (scale-invariance)
    val viaInc = engine.instantPromQL(
      """histogram_quantile(0.5, increase(rpc_latency{job="api"}[2m]))""",
      t0 + 61000).collect()
    assert(math.abs(viaInc.head.getAs[Double]("value") - 7.0) < 1e-9)
    // RANGE query, rate shape: 1m tumbling buckets; the first bucket holds
    // only the overall-first sample (increase 0 → dropped); the second
    // carries the chained deltas → 7.0 (count-field rank 3.5, as above)
    val all = graft.storage.TimeRange(Long.MinValue, Long.MaxValue)
    val rangeRate = engine.queryPromQL(
      """histogram_quantile(0.5, rate(rpc_latency{job="api"}[1m]))""", all)
      .collect().map(r =>
        (r.getAs[Long]("bucket_ms"), r.getAs[Double]("value"))).toMap
    assert(rangeRate.size == 1 &&
      math.abs(rangeRate(t0 + 60000) - 7.0) < 1e-9, rangeRate.toString)
    // RANGE query, gauge shape: newest histogram per step bucket —
    // bucket0 quantiles h1 (rank 5 → 2.0), bucket1 quantiles h2
    // (count 7, rank 3.5: zero cum 1, (1,2] cum 5 → 1 + 2.5/4 = 1.625)
    val rangeSel = engine.queryPromQL(
      """histogram_quantile(0.5, rpc_latency{job="api"})""", all,
      Some(60000L))
      .collect().map(r =>
        (r.getAs[Long]("bucket_ms"), r.getAs[Double]("value"))).toMap
    assert(rangeSel.size == 2 &&
      math.abs(rangeSel(t0) - 2.0) < 1e-9 &&
      math.abs(rangeSel(t0 + 60000) - 1.625) < 1e-9, rangeSel.toString)
    // native-histogram scalar functions (instant): newest = h2
    // (count 7, sum 18); fraction on h2: zero 1 + (1,2] 4 = 5/7
    def instV(q: String, at: Long = t0 + 61000): Double =
      engine.instantPromQL(q, at).collect().head.getAs[Double]("value")
    assert(instV("""histogram_count(rpc_latency{job="api"})""") == 7.0)
    assert(instV("""histogram_sum(rpc_latency{job="api"})""") == 18.0)
    assert(math.abs(instV("""histogram_avg(rpc_latency{job="api"})""")
      - 18.0 / 7.0) < 1e-12)
    assert(math.abs(
      instV("""histogram_fraction(0, 2, rpc_latency{job="api"})""")
        - 5.0 / 7.0) < 1e-12)
    // observation rate: the COUNT-FIELD increase (10→7 is a reset → 7)
    // over a 2m window → 7/120 per s — the count field is where NaN
    // observations (and here the reset baseline) live; a bucket-mass
    // recompute would say 4
    assert(math.abs(
      instV("""histogram_count(rate(rpc_latency{job="api"}[2m]))""")
        - 7.0 / 120.0) < 1e-12)
    // aggregated shapes: sum by (job) then quantile — api's increase hist
    // quantiles to 7.0 (count-field rank 3.5, as above; this engine has
    // only the api series)
    val aggRate = engine.instantPromQL(
      """histogram_quantile(0.5, sum by (job) (rate(rpc_latency[2m])))""",
      t0 + 61000).collect()
      .map(r => r.getAs[String]("job") -> r.getAs[Double]("value")).toMap
    assert(aggRate.keySet == Set("api") &&
      math.abs(aggRate("api") - 7.0) < 1e-9, aggRate.toString)
    // ungrouped sum: one label-less value
    val aggAll = engine.instantPromQL(
      """histogram_quantile(0.5, sum(rate(rpc_latency{job="api"}[2m])))""",
      t0 + 61000).collect()
    assert(aggAll.length == 1 && aggAll.head.schema.fieldNames.toSeq ==
      Seq("value"))
    assert(math.abs(aggAll.head.getAs[Double]("value") - 7.0) < 1e-9)
    // sum of CURRENT histograms per group (newest per series): api → h2
    // (count 7, rank 3.5: zero cum 1, (1,2] cum 5 → 1 + 2.5/4 = 1.625)
    val aggCur = engine.instantPromQL(
      """histogram_quantile(0.5, sum by (job) (rpc_latency))""",
      t0 + 61000, lookbackMs = 2 * 3600000L).collect()
      .map(r => r.getAs[String]("job") -> r.getAs[Double]("value")).toMap
    assert(math.abs(aggCur("api") - 1.625) < 1e-9, aggCur.toString)
    // range aggregated: same grouping on the tumbling grid, NaN dropped
    val aggRange = engine.queryPromQL(
      """histogram_quantile(0.5, sum by (job) (rate(rpc_latency[1m])))""",
      all).collect()
      .map(r => (r.getAs[String]("job"), r.getAs[Long]("bucket_ms")) ->
        r.getAs[Double]("value")).toMap
    assert(aggRange.keySet == Set(("api", t0 + 60000)), aggRange.toString)
    assert(math.abs(aggRange(("api", t0 + 60000)) - 7.0) < 1e-9)
    // stddev/stdvar: Prometheus's geometric-midpoint estimate on h2
    // (count 7, sum 18; zero→0, (1,2]→√2, (4,8]→√32; mean 18/7)
    val mean = 18.0 / 7.0
    val expVar = (1 * math.pow(0.0 - mean, 2) +
      4 * math.pow(math.sqrt(2.0) - mean, 2) +
      2 * math.pow(math.sqrt(32.0) - mean, 2)) / 7.0
    assert(math.abs(
      instV("""histogram_stdvar(rpc_latency{job="api"})""") - expVar) < 1e-12)
    assert(math.abs(
      instV("""histogram_stddev(rpc_latency{job="api"})""")
        - math.sqrt(expVar)) < 1e-12)
    // over a non-histogram metric the evaluator rejects loudly (never a
    // silent wrong answer from scalar samples)
    val err = intercept[IllegalArgumentException](engine.instantPromQL(
      "histogram_count(not_a_histogram)", t0 + 1000).collect())
    assert(err.getMessage.contains("native histograms"))
  }

  test("streaming PromQL rejects range-function shapes toward the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    assertThrows[IllegalArgumentException](
      StreamAggregates.promqlStream(stream.toDS(), "sum(rate(cpu[5m]))", 60000L))
    // non-decomposable over_time pair and mismatched step are also rejected
    assertThrows[IllegalArgumentException](
      StreamAggregates.promqlStream(stream.toDS(),
        "avg(avg_over_time(cpu[1m]))", 60000L))
    assertThrows[IllegalArgumentException](
      StreamAggregates.promqlStream(stream.toDS(),
        "sum(sum_over_time(cpu[5m]))", 60000L))
  }

  test("streaming decomposable agg-over-*_over_time == batch evaluation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    val step = 60000L
    val text = "max by (host) (max_over_time(cpu_seconds_total[1m]))"
    val q = StreamAggregates.promqlStream(stream.toDS(), text, stepMs = step,
      watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("pql_ot").start()
    val batch = Seq(
      Sample("cpu_seconds_total", Map("host" -> "h0"), t0, 2.0),
      Sample("cpu_seconds_total", Map("host" -> "h0"), t0 + 1000, 7.0),
      Sample("cpu_seconds_total", Map("host" -> "h1"), t0 + 2000, 3.0))
    try {
      stream.addData(batch: _*)
      q.processAllAvailable()
      stream.addData(Sample("cpu_seconds_total", Map("host" -> "h0"),
        t0 + 3600 * 1000L, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT host, bucket_ms, value FROM pql_ot").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // replay the same text over the same samples through the batch evaluator
    import org.apache.spark.sql.functions.{col, element_at}
    val flat = batch.toDF()
      .select(col("name"), element_at(col("labels"), "host").as("host"),
        col("timestamp"), col("value"))
    val replayed = new graft.promql.PromQLContext(flat, "name",
      col("timestamp"), "value", Map("host" -> "host"))
      .sql(text, stepMs = Some(step)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == replayed && streamed ==
      Set(("h0", t0 - t0 % step, 7.0), ("h1", t0 - t0 % step, 3.0)))
  }

  test("mapGroupsWithState live last-value per series") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    val q = StreamAggregates.liveLastValue(stream.toDS())
      .writeStream.outputMode("update").format("memory").queryName("lastv").start()
    try {
      stream.addData(samples(6)) // hosts h0..h2, two samples each
      q.processAllAvailable()
      stream.addData(Sample("cpu_seconds_total", Map("host" -> "h0", "mode" -> "user"),
        t0 + 999000L, 777.0))
      q.processAllAvailable()
    } finally q.stop()
    // canonical control-character series key, shared with storage tsids
    val h0Key = graft.metric.MetricEngine.labelsKey(
      Map("host" -> "h0", "mode" -> "user"))
    val last = spark.table("lastv")
      .filter(org.apache.spark.sql.functions.col("seriesKey") === h0Key)
      .collect().map(r => (r.getAs[String]("seriesKey"), r.getAs[Double]("value")))
    // update mode appends each revision; the final h0 row carries the override
    assert(last.map(_._2).contains(777.0))
    val latestRun = spark.table("lastv")
      .filter(org.apache.spark.sql.functions.col("seriesKey") === h0Key)
      .orderBy(org.apache.spark.sql.functions.col("ts").desc)
      .limit(1).collect().map(_.getAs[Double]("value")).toSeq
    assert(latestRun == Seq(777.0))
  }

  test("liveLastValue keeps structurally distinct series distinct even " +
      "when a naive k=v join would collide their keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    val q = StreamAggregates.liveLastValue(stream.toDS())
      .writeStream.outputMode("update").format("memory").queryName("lastv2").start()
    try {
      // 'a=1,b=2' under a ','/'=' join for BOTH of these:
      stream.addData(
        Sample("m", Map("a" -> "1,b=2"), t0, 10.0),
        Sample("m", Map("a" -> "1", "b" -> "2"), t0 + 1000L, 20.0))
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.table("lastv2").collect()
      .map(r => r.getAs[String]("seriesKey") -> r.getAs[Double]("value")).toMap
    assert(keys.size == 2, s"series collided: $keys")
    assert(keys(graft.metric.MetricEngine.labelsKey(Map("a" -> "1,b=2"))) == 10.0)
    assert(keys(graft.metric.MetricEngine.labelsKey(
      Map("a" -> "1", "b" -> "2"))) == 20.0)
  }

  test("streamingRate keys reset state per SERIES: two series sharing the " +
      "by-label value never interleave into one pseudo-counter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Sample]
    def s(host: String, job: String, sec: Long, v: Double) =
      Sample("req2_total", Map("host" -> host, "job" -> job),
        t0 + sec * 1000L, v)
    val q = StreamAggregates.streamingRate(stream.toDS(), "req2_total", "job",
        stepMs = 60000L, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("srate2").start()
    try {
      // both series have job=x; h0 counts near 1000, h1 near 5 — under
      // per-label-value state every alternation would read as a reset
      stream.addData(
        s("h0", "x", 0, 1000), s("h1", "x", 1, 5),
        s("h0", "x", 10, 1010), s("h1", "x", 11, 8),
        s("h0", "x", 20, 1025), s("h1", "x", 21, 9))
      q.processAllAvailable()
      stream.addData(s("h0", "x", 3600, 1025)) // close the window
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(
      "SELECT uid, bucket_ms, increase, rate FROM srate2").collect()
      .map(r => (r.getString(0), r.getLong(1) - t0, r.getDouble(2),
        r.getDouble(3))).toSet
    // per-series increases: h0 = 10+15 = 25, h1 = 3+1 = 4 -> sum by job = 29
    assert(got == Set(("x", 0L, 29.0, 29.0 / 60.0)), s"got $got")
  }

  test("crafted remote-write payloads cannot stall the decoder: negative " +
      "and overflowing length varints error out instead of looping") {
    // length varint 0xFA 0xFF 0xFF 0xFF 0x0F decodes to 4294967290;
    // .toInt was -6, landing pos back on the tag: an infinite loop before
    // the bounds check existed. Now it must raise (caught per payload).
    val evil = Array[Byte](0x0a, 0xFA.toByte, 0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0x0F)
    intercept[RuntimeException](RemoteWrite.decode(evil))
    // near-2^31 length: p + len overflows int — must error, not AIOOBE-spin
    val evil2 = Array[Byte](0x0a, 0xFE.toByte, 0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0x07)
    intercept[RuntimeException](RemoteWrite.decode(evil2))
    // unbounded varint continuation bytes: error, not garbage shifting
    val evil3 = Array.fill[Byte](12)(0x80.toByte)
    intercept[RuntimeException](RemoteWrite.decode(evil3))
    // unframe on attacker bytes goes through the same guarded walk
    assert(RemoteWrite.unframe(evil) sameElements evil)
    // a nested record that declares more bytes than its parent holds: the
    // first TimeSeries' Sample claims 40 bytes; a reader bounded only by
    // the buffer decodes a phantom `up{} @0 = 0.0` out of the next series
    val next = RemoteWrite.encode(samples(3))
    val overrun = new Wire.Writer().message(1) { ts =>
      ts.message(1)(_.string(1, "__name__").string(2, "up"))
      ts.raw(Array[Byte](0x12, 40))
    }.raw(next).toByteArray
    assert(next.length > 40)
    intercept[RuntimeException](RemoteWrite.decode(overrun))
    // a packed double run of 5 bytes (histogram negative_counts, field 10):
    // an 8-byte step would take 3 bytes of the span record after it
    val partial = new Wire.Writer().message(1) { ts =>
      ts.message(1)(_.string(1, "__name__").string(2, "h"))
      ts.message(4)(_.raw(Array[Byte](0x52, 5, 1, 2, 3, 4, 5))
        .message(8)(_.sint(1, 0L).varint(2, 1L)).varint(15, t0))
    }.toByteArray
    intercept[RuntimeException](RemoteWrite.decodeRequest(partial))
    // the same partial run in OTLP explicit_bounds must not drop its tail
    // silently
    val otlpPartial = new Wire.Writer().message(1)(_.message(2)(_.message(2)(
      _.string(1, "lat").message(9)(_.message(1)(_.fixed64(3, t0 * 1000000L)
        .packedFixed64(6, Seq(1L, 2L)).bytes(7, Array[Byte](0, 0, 0, 0, 0, 0, 0xf0.toByte, 0x3f, 9)))
        .varint(2, 2L))))).toByteArray
    intercept[RuntimeException](Otlp.decodeAll(otlpPartial))
  }

  test("deeply nested OTLP AnyValues fail with a RuntimeException, not a " +
      "stack overflow") {
    val body = StreamingSpec.deepOtlpBody(3000, t0)
    assert(body.length > 18000)
    intercept[RuntimeException](Otlp.decodeAll(body))
    // nesting inside the depth cap still decodes
    val shallow = Otlp.decodeAll(StreamingSpec.deepOtlpBody(10, t0))
    assert(shallow.samples.map(_.labels("deep")) ==
      Seq("[" * 10 + "x" + "]" * 10))
  }

  test("NaN payload bits survive the remote-write/read codec round trip: " +
      "Prometheus staleness markers are a BIT-equality check") {
    val staleBits = 0x7ff0000000000002L // Prometheus StaleNaN
    val stale = java.lang.Double.longBitsToDouble(staleBits)
    val s = Sample("up", Map("job" -> "x"), t0, stale)
    for (enc <- Seq(RemoteWrite.encode(Seq(s)), RemoteWrite.encodeV2(Seq(s)))) {
      val back = RemoteWrite.decode(enc)
      assert(back.length == 1)
      // doubleToLongBits would canonicalize to 0x7ff8... and a client's
      // IsStaleNaN check would see a live NaN sample instead of staleness
      assert(java.lang.Double.doubleToRawLongBits(back.head.value) == staleBits)
    }
  }

  test("one malformed payload in the ingest stream is dropped, not a " +
      "poison pill that kills the query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eng = new MetricEngine(spark,
      Files.createTempDirectory("graft-poison").toString,
      segmentMs = 12L * 3600 * 1000)
    val stream = MemoryStream[Array[Byte]]
    val q = MetricStreamIngest.start(eng, stream.toDS(),
      Files.createTempDirectory("graft-poison-ckpt").toString, triggerMs = 50L)
    try {
      val good = RemoteWrite.encode(Seq(
        Sample("m", Map("k" -> "v"), t0, 1.0)))
      val evil = Array[Byte](0x0a, 0xFA.toByte, 0xFF.toByte, 0xFF.toByte,
        0xFF.toByte, 0x0F)
      stream.addData(good, evil,
        RemoteWrite.encode(Seq(Sample("m", Map("k" -> "v"), t0 + 1000L, 2.0))))
      q.processAllAvailable()
      assert(q.isActive, "malformed payload killed the ingest query")
    } finally q.stop()
    assert(eng.data.scan().count() == 2) // both good payloads landed
  }

  test("streaming ingest lands samples in the engine (T1-T4 pipeline)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val engine = new MetricEngine(spark,
      Files.createTempDirectory("graft-stream").toString)
    val stream = MemoryStream[Array[Byte]]
    val q = MetricStreamIngest.start(engine, stream.toDS(),
      Files.createTempDirectory("graft-ckpt").toString, triggerMs = 100L)
    try {
      stream.addData(RemoteWrite.encode(samples(5)))
      q.processAllAvailable()
      stream.addData(RemoteWrite.encode(samples(5, offset = 5)))
      q.processAllAvailable()
      // a remote-write 2.0 payload interleaving a float sample with a
      // NATIVE HISTOGRAM: the sink must land BOTH record kinds (the old
      // decode path paid the histogram decode and then dropped it)
      stream.addData(RemoteWrite.encodeRequestV2(RemoteWrite.Request(
        samples = Seq(Sample("mem_bytes",
          Map("host" -> "h0"), t0 + 60000L, 42.0)),
        exemplars = Nil, metadata = Nil,
        histograms = Seq(RemoteWrite.HistogramSample(
          "req_latency", Map("host" -> "h0"), t0, count = 3.0, sum = 6.0,
          schema = 0, zeroThreshold = 0.0, zeroCount = 0.0,
          positiveBuckets = Seq((1, 2.0), (2, 1.0)),
          negativeBuckets = Nil)))))
      q.processAllAvailable()
    } finally q.stop()
    assert(engine.data.scan().count() == 11)
    // 3 cpu hosts + mem_bytes + the histogram series
    assert(engine.series.scan().count() == 5)
    val hist = engine.histograms.scan()
    assert(hist.count() == 1)
    assert(hist.collect()(0).getAs[Double]("count") == 3.0)
    val total = engine.query(MetricQuery("cpu_seconds_total",
      labelFilters = Map("host" -> "h0"), agg = MetricAgg.Count)).collect()
    assert(total(0).getDouble(0) == 4.0) // i = 0,3,6,9
  }

  test("tailStream: the table as a change stream — commits appear in write " +
      "order with seq stamps, overwrites arrive as new CDC rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.storage._
    val schema = StructType(Seq(
      StructField("pk", IntegerType), StructField("v", LongType)))
    val store = new TimeMergeStorage(spark,
      Files.createTempDirectory("graft-tail").toString,
      StorageSchema(schema, numPrimaryKeys = 1), segmentMs = 1000L)
    def w(rows: Seq[(Int, Long)]): SstFile =
      store.write(spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2)), 1), schema), TimeRange(1, 10))
    val s1 = w(Seq((1, 10L), (2, 20L))) // pre-stream backfill
    val q = store.tailStream()
      .writeStream.outputMode("append").format("memory")
      .queryName("tail_t").start()
    try {
      q.processAllAvailable()
      // backfill visible, __seq__ stamped with the committing SST's id
      val first = spark.sql("SELECT pk, v, __seq__ FROM tail_t").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(first == Set((1, 10L, s1.id), (2, 20L, s1.id)))
      // an overwrite of pk=1 is a NEW change row (CDC), not an update
      val s2 = w(Seq((1, 11L)))
      q.processAllAvailable()
      val all = spark.sql("SELECT pk, v, __seq__ FROM tail_t").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(all == first + ((1, 11L, s2.id)))
      // downstream last-write-wins over the change stream == table scan
      val merged = spark.sql(
        "SELECT pk, max_by(v, __seq__) AS v FROM tail_t GROUP BY pk")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val table = store.scan().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(merged == table && table == Set((1, 11L), (2, 20L)))
    } finally q.stop()
  }
}
