package graft.streaming

import scala.collection.mutable

import graft.metric.Sample

/** Hand-rolled decoder for OTLP/HTTP metrics — the OpenTelemetry export
  * protocol (public opentelemetry-proto layout,
  * `ExportMetricsServiceRequest`), the modern ingest path next to the
  * reference's Prometheus remote-write (SURVEY §2.1 S5). Scope: GAUGE and
  * SUM metrics with number data points (→ engine samples), EXPONENTIAL
  * HISTOGRAM data points (→ native histogram samples: OTLP `scale` IS the
  * Prometheus schema, bucket indexes shift by one — see
  * [[decodeExponentialPoint]]), and fixed-bucket HISTOGRAM data points
  * (→ NHCB custom-bound native histograms, the standard
  * classic-histogram-on-the-native-wire translation), and SUMMARY data
  * points (→ the classic `<name>_sum` / `<name>_count` /
  * `<name>{quantile="q"}` series triple, the standard OTLP→Prometheus
  * summary mapping). Every OTLP metric kind now ingests — nothing is
  * accepted-and-dropped.
  *
  * Field numbers (opentelemetry-proto, metrics/v1 + common/v1 +
  * resource/v1):
  * {{{
  * ExportMetricsServiceRequest { repeated ResourceMetrics resource_metrics = 1; }
  * ResourceMetrics { Resource resource = 1; repeated ScopeMetrics scope_metrics = 2; }
  * Resource        { repeated KeyValue attributes = 1; }
  * ScopeMetrics    { InstrumentationScope scope = 1; repeated Metric metrics = 2; }
  * Metric          { string name = 1; string description = 2; string unit = 3;
  *                   Gauge gauge = 5; Sum sum = 7; ... }
  * Gauge           { repeated NumberDataPoint data_points = 1; }
  * Sum             { repeated NumberDataPoint data_points = 1;
  *                   AggregationTemporality aggregation_temporality = 2;
  *                   bool is_monotonic = 3; }
  * NumberDataPoint { repeated KeyValue attributes = 7;
  *                   fixed64 start_time_unix_nano = 2;
  *                   fixed64 time_unix_nano = 3;
  *                   double as_double = 4; sfixed64 as_int = 6; }
  * KeyValue        { string key = 1; AnyValue value = 2; }
  * AnyValue        { string string_value = 1; bool bool_value = 2;
  *                   int64 int_value = 3; double double_value = 4; ... }
  * }}}
  *
  * Semantics:
  *  - labels = resource attributes ++ data-point attributes (data point
  *    wins on key collision — the OTLP→Prometheus translation order);
  *    non-string attribute values stringify; attribute NAMES sanitize to
  *    the Prometheus label charset (`service.name` → `service_name`) so
  *    the ingested series stay addressable from PromQL selectors.
  *  - metric names sanitize to the Prometheus charset
  *    (`[a-zA-Z_:][a-zA-Z0-9_:]*`, every other char → '_'), the standard
  *    OTLP→Prometheus name translation; MONOTONIC cumulative sums gain
  *    the `_total` counter suffix (no double suffix), Prometheus's
  *    default "with suffixes" strategy. UNIT suffixing is NOT applied
  *    (documented deviation — unit text rides in metadata, not the name;
  *    a full UCUM unit map is out of scope).
  *  - `utf8Names = true` switches to Prometheus 3's
  *    `NoUTF8EscapingWithSuffixes` translation: metric AND label names
  *    pass through verbatim (the engine stores and serves them — the
  *    quoted PromQL selector syntax addresses them) while the `_total`
  *    suffix rule stays. Keys inside a kvlist attribute VALUE still
  *    sanitize — they stringify into a label value, not a label name.
  *  - timestamps truncate ns → ms (the engine's resolution).
  *
  * Every record reads and writes through [[Wire]]: record bounds,
  * unknown-field skip, and a depth cap that turns a deeply nested
  * `AnyValue` into an error instead of a stack overflow. Bodies may be
  * gzip-compressed (Content-Encoding: gzip is what OTLP/HTTP exporters
  * send) or raw.
  */
object Otlp {

  /** Everything one OTLP request decodes to: number-point samples,
    * native-histogram samples (exponential histograms directly,
    * fixed-bucket histograms as NHCB), and exemplars (from number,
    * histogram, and exponential-histogram data points — trace/span ids
    * become `trace_id`/`span_id` labels, the Prometheus translation). */
  final case class Decoded(samples: Seq[Sample],
      histograms: Seq[RemoteWrite.HistogramSample],
      exemplars: Seq[RemoteWrite.Exemplar] = Nil)

  /** Decode an ExportMetricsServiceRequest body into engine samples
    * (number points only — see [[decodeAll]] for histograms too). */
  def decode(bytes: Array[Byte], utf8Names: Boolean = false): Seq[Sample] =
    decodeAll(bytes, utf8Names).samples

  /** Decode an ExportMetricsServiceRequest body into samples AND native
    * histograms. */
  def decodeAll(bytes: Array[Byte], utf8Names: Boolean = false): Decoded = {
    val out = new Out(utf8Names)
    val r = new Wire.Reader(bytes)
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => decodeResourceMetrics(r.message(), out)
      case _ => r.skip()
    }
    Decoded(out.samples.toSeq, out.histograms.toSeq, out.exemplars.toSeq)
  }

  /** One decode's outputs and its name-translation mode. */
  private final class Out(val utf8: Boolean) {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val histograms = mutable.ArrayBuffer.empty[RemoteWrite.HistogramSample]
    val exemplars = mutable.ArrayBuffer.empty[RemoteWrite.Exemplar]
  }

  /** Thrown when a gzip body inflates past the caller's cap — the
    * decompression-bomb guard (a 64 KB crafted gzip expands ~1000:1; an
    * unbounded readAllBytes would OOM the serving JVM straight past the
    * compressed-body cap). */
  final class DecompressedTooLarge(max: Long) extends RuntimeException(
    s"decompressed body exceeds $max bytes")

  /** Gunzip when the body is gzip-framed (OTLP/HTTP's standard
    * Content-Encoding), pass through raw protobuf otherwise. The
    * DECOMPRESSED size is capped at `maxDecompressed` — exceeding it
    * throws [[DecompressedTooLarge]] (a 413 at the HTTP edge). */
  def unframe(bytes: Array[Byte],
      maxDecompressed: Long = 64L << 20): Array[Byte] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val out = in.readNBytes(maxDecompressed.toInt + 1)
        if (out.length > maxDecompressed) throw new DecompressedTooLarge(maxDecompressed)
        out
      } catch {
        case e: DecompressedTooLarge => throw e
        case scala.util.control.NonFatal(_) => bytes
      } finally in.close()
    }
    else bytes

  private def decodeResourceMetrics(r: Wire.Reader, out: Out): Unit = {
    var resourceAttrs = Map.empty[String, String]
    val scopes = mutable.ArrayBuffer.empty[Wire.Reader]
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => // Resource { repeated KeyValue attributes = 1; }
        val res = r.message()
        resourceAttrs = Map.empty
        while (res.next()) (res.field, res.wireType) match {
          case (1, 2) => resourceAttrs ++= decodeKeyValue(res.message(), out.utf8)
          case _ => res.skip()
        }
      // scope_metrics — decode after the resource is known (proto field
      // order is not guaranteed)
      case (2, 2) => scopes += r.message()
      case _ => r.skip()
    }
    scopes.foreach { sm =>
      while (sm.next()) (sm.field, sm.wireType) match {
        case (2, 2) => decodeMetric(sm.message(), resourceAttrs, out) // metric
        case _ => sm.skip()
      }
    }
  }

  private def decodeMetric(r: Wire.Reader, resourceAttrs: Map[String, String],
      out: Out): Unit = {
    var name = ""
    val points = mutable.ArrayBuffer.empty[Wire.Reader]
    val hists = mutable.ArrayBuffer.empty[Wire.Reader]
    val exps = mutable.ArrayBuffer.empty[Wire.Reader]
    val summaries = mutable.ArrayBuffer.empty[Wire.Reader]
    val delta = mutable.Set.empty[Int] // kinds (field numbers) sent as DELTA
    var monotonic = false
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => name = r.string()
      // gauge | sum | histogram | exponential_histogram | summary: each
      // holds data_points = 1; sum and both histograms carry
      // aggregation_temporality = 2, sum is_monotonic = 3
      case (kind @ (5 | 7 | 9 | 10 | 11), 2) =>
        val m = r.message()
        val pts = kind match {
          case 5 | 7 => points; case 9 => hists; case 10 => exps
          case _ => summaries
        }
        while (m.next()) (m.field, m.wireType) match {
          case (1, 2) => pts += m.message()
          // DELTA(1) sums are per-interval increments — ingesting them raw
          // corrupts rate()/increase() (a sawtooth posing as a cumulative
          // counter). Prometheus's OTLP endpoint rejects them by default;
          // so do we: drop the points (histograms likewise).
          case (2, 0) if kind == 7 || kind == 9 || kind == 10 =>
            if (m.varint() == 1L) delta += kind
          case (3, 0) if kind == 7 => monotonic = m.varint() != 0L
          case _ => m.skip()
        }
      case _ => r.skip()
    }
    // monotonic cumulative sums gain the Prometheus counter suffix —
    // the default OTLP→Prometheus translation (strategy "with suffixes");
    // a name already ending in _total is left alone (no double suffix)
    val prom0 = if (out.utf8) name else sanitizeName(name)
    val prom =
      if (monotonic && !delta(7) && prom0.nonEmpty &&
          !prom0.endsWith("_total")) prom0 + "_total"
      else prom0
    // a nameless metric would ingest an unaddressable "" series
    // (Prometheus rejects these at ingest) — skip like malformed points
    if (prom.isEmpty) return
    // Exemplars ride on number, histogram, and exponential-histogram
    // data points; they ingest with their point's series labels
    // (resource ++ point attributes), trace/span ids as
    // `trace_id`/`span_id` exemplar labels — the Prometheus OTLP
    // translation. Each point decoder hands back its exemplar records;
    // they decode only when the point itself ingests, so dropped points
    // (delta metrics, stale/timeless points) drop their exemplars too.
    def emitExemplars(attrs: Map[String, String], xs: Seq[Wire.Reader]): Unit =
      xs.foreach(x => decodeOtlpExemplar(x, out.utf8).foreach {
        case (labels, tsNano, v) => out.exemplars += RemoteWrite.Exemplar(
          prom, resourceAttrs ++ attrs, labels, v, tsNano / 1000000L)
      })
    if (!delta(7)) points.foreach { p =>
      decodeNumberPoint(p, out.utf8).foreach { case (attrs, tsNano, value, xs) =>
        out.samples += Sample(prom, resourceAttrs ++ attrs, tsNano / 1000000L, value)
        emitExemplars(attrs, xs)
      }
    }
    def emitHistograms(pts: Seq[Wire.Reader], decode: (Wire.Reader, Boolean) =>
        Option[(RemoteWrite.HistogramSample, Seq[Wire.Reader])]): Unit =
      pts.foreach(p => decode(p, out.utf8).foreach { case (h, xs) =>
        out.histograms += h.copy(name = prom, labels = resourceAttrs ++ h.labels)
        emitExemplars(h.labels, xs)
      })
    if (!delta(9)) emitHistograms(hists.toSeq, decodeFixedHistogramPoint)
    if (!delta(10)) emitHistograms(exps.toSeq, decodeExponentialPoint)
    // Summaries translate to the classic Prometheus series triple —
    // `<name>_sum`, `<name>_count`, and one `<name>{quantile="q"}` series
    // per reported quantile (the standard OTLP→Prometheus mapping; the
    // quantile label renders like Go strconv 'f', e.g. "0.99").
    summaries.foreach { p =>
      decodeSummaryPoint(p, out.utf8).foreach {
        case (attrs, tsNano, count, sum, quantiles) =>
          val tsMs = tsNano / 1000000L
          val base = resourceAttrs ++ attrs
          out.samples += Sample(prom + "_sum", base, tsMs, sum)
          out.samples += Sample(prom + "_count", base, tsMs, count.toDouble)
          quantiles.foreach { case (q, v) =>
            out.samples += Sample(prom,
              base + ("quantile" -> goFloatText(q)), tsMs, v)
          }
      }
    }
  }

  /** Scala mirror of the engine's Go-float rendering for the summary
    * `quantile` label (`strconv.FormatFloat(q, 'f', -1, 64)`): quantiles
    * are small decimals, so Java's shortest repr only needs the
    * integral-".0" strip and sub-1e-3 exponent expansion. */
  private def goFloatText(v: Double): String = {
    val s = v.toString
    if (!s.contains("E")) s.stripSuffix(".0")
    else { // e.g. 5.0E-4 → 0.0005
      val Array(m, e) = s.split("E")
      val digits0 = m.replace("-", "").replace(".", "").reverse
        .dropWhile(_ == '0').reverse
      val digits = if (digits0.isEmpty) "0" else digits0
      val exp = e.toInt
      val sign = if (s.startsWith("-")) "-" else ""
      if (exp < 0) sign + "0." + ("0" * (-exp - 1)) + digits
      else if (digits.length <= exp + 1)
        sign + digits.padTo(exp + 1, '0')
      else sign + digits.substring(0, exp + 1) + "." +
        digits.substring(exp + 1)
    }
  }

  /** NumberDataPoint.flags bit: the point is a staleness marker carrying
    * NO recorded value (opentelemetry-proto DataPointFlags). */
  private val FlagNoRecordedValue = 1L

  /** One NumberDataPoint → (attributes, time ns, value, exemplar
    * records at field 5); None when the point carries no timestamp, no
    * value field, or the no-recorded-value staleness flag — each would
    * otherwise ingest a phantom 0.0 (a fake counter reset). Skip the
    * point, not the request. */
  private def decodeNumberPoint(r: Wire.Reader, utf8: Boolean)
      : Option[(Map[String, String], Long, Double, Seq[Wire.Reader])] = {
    var ts = 0L
    var value = 0.0
    var sawValue = false
    var stale = false
    var attrs = Map.empty[String, String]
    val exemplars = mutable.ArrayBuffer.empty[Wire.Reader]
    while (r.next()) (r.field, r.wireType) match {
      case (3, 1) => ts = r.fixed64()
      case (4, 1) => value = r.double(); sawValue = true
      case (5, 2) => exemplars += r.message()
      case (6, 1) => value = r.fixed64().toDouble; sawValue = true // sfixed64
      case (7, 2) => attrs ++= decodeKeyValue(r.message(), utf8)
      case (8, 0) => stale = (r.varint() & FlagNoRecordedValue) != 0L // flags
      case _ => r.skip()
    }
    if (ts == 0L || !sawValue || stale) None
    else Some((attrs, ts, value, exemplars.toSeq))
  }

  /** One OTLP ExponentialHistogramDataPoint → a Prometheus native
    * histogram sample (name/resource labels filled by the caller).
    *
    * Index translation: OTLP bucket `i` at `offset` covers
    * `(base^(offset+i), base^(offset+i+1)]` with `base = 2^(2^-scale)`;
    * the Prometheus native bucket covering that interval is index
    * `offset+i+1` (Prometheus bucket `k` covers `(base^(k-1), base^k]`).
    * OTLP `scale` IS the Prometheus schema. Scales above 8 downscale to 8
    * by merging adjacent bucket pairs (`idx → ((idx-1) >> d) + 1` per
    * halving — exact, the same arithmetic Prometheus's own OTLP endpoint
    * and `reduceResolution` use); scales below -4 have no Prometheus
    * representation and the point is skipped, as are points with no
    * timestamp or the no-recorded-value staleness flag.
    *
    * Field numbers (opentelemetry-proto metrics/v1
    * ExponentialHistogramDataPoint): attributes=1, time_unix_nano=3,
    * count=4 (fixed64), sum=5 (double), scale=6 (sint32), zero_count=7
    * (fixed64), positive=8, negative=9 (Buckets{offset=1 sint32,
    * bucket_counts=2 repeated uint64}), flags=10, exemplars=11,
    * zero_threshold=14. */
  private def decodeExponentialPoint(r: Wire.Reader, utf8: Boolean)
      : Option[(RemoteWrite.HistogramSample, Seq[Wire.Reader])] = {
    var ts = 0L; var count = 0L; var sum = 0.0; var scale = 0
    var zeroCount = 0L; var zeroTh = 0.0; var stale = false
    var attrs = Map.empty[String, String]
    var posB: (Int, Seq[Long]) = (0, Nil)
    var negB: (Int, Seq[Long]) = (0, Nil)
    val exemplars = mutable.ArrayBuffer.empty[Wire.Reader]
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => attrs ++= decodeKeyValue(r.message(), utf8)
      case (3, 1) => ts = r.fixed64()
      case (4, 1) => count = r.fixed64()
      case (5, 1) => sum = r.double()
      case (6, 0) => scale = r.sint().toInt
      case (7, 1) => zeroCount = r.fixed64()
      case (8, 2) => posB = decodeExpBuckets(r.message())
      case (9, 2) => negB = decodeExpBuckets(r.message())
      case (10, 0) => stale = (r.varint() & FlagNoRecordedValue) != 0L
      case (11, 2) => exemplars += r.message()
      case (14, 1) => zeroTh = r.double()
      case _ => r.skip()
    }
    if (ts == 0L || stale || scale < -4) None
    else {
      val down = math.max(0, scale - 8)
      Some((RemoteWrite.HistogramSample("", attrs, ts / 1000000L,
        count = count.toDouble, sum = sum, schema = math.min(scale, 8),
        zeroThreshold = zeroTh, zeroCount = zeroCount.toDouble,
        positiveBuckets = toPromBuckets(posB._1, posB._2, down),
        negativeBuckets = toPromBuckets(negB._1, negB._2, down)),
        exemplars.toSeq))
    }
  }

  /** ExponentialHistogramDataPoint.Buckets: offset (sint32) + repeated
    * uint64 bucket_counts (packed or unpacked). */
  private def decodeExpBuckets(r: Wire.Reader): (Int, Seq[Long]) = {
    var offset = 0
    val counts = mutable.ArrayBuffer.empty[Long]
    while (r.next()) (r.field, r.wireType) match {
      case (1, 0) => offset = r.sint().toInt
      case (2, _) => r.packedVarints(counts += _)
      case _ => r.skip()
    }
    (offset, counts.toSeq)
  }

  /** OTLP dense buckets → sparse Prometheus (index, count) pairs: shift
    * by one ([[decodeExponentialPoint]]'s index translation), drop empty
    * buckets, then merge adjacent pairs `down` times for scales above the
    * Prometheus maximum. */
  private def toPromBuckets(offset: Int, counts: Seq[Long],
      down: Int): Seq[(Int, Double)] = {
    val merged = scala.collection.mutable.TreeMap.empty[Int, Double]
    counts.zipWithIndex.foreach { case (c, i) =>
      if (c != 0L) {
        val idx0 = offset + i + 1
        val idx = if (down > 0) ((idx0 - 1) >> down) + 1 else idx0
        merged(idx) = merged.getOrElse(idx, 0.0) + c.toDouble
      }
    }
    merged.toSeq
  }

  /** One OTLP Exemplar → (exemplar labels, time ns, value). Field
    * numbers (metrics/v1 Exemplar): filtered_attributes=7,
    * time_unix_nano=2, as_double=3, span_id=4 (bytes → lowercase hex),
    * trace_id=5 (bytes → lowercase hex), as_int=6. Timeless or valueless
    * exemplars skip. */
  private def decodeOtlpExemplar(r: Wire.Reader, utf8: Boolean)
      : Option[(Map[String, String], Long, Double)] = {
    var ts = 0L; var v = 0.0; var saw = false
    var attrs = Map.empty[String, String]
    var traceId = ""; var spanId = ""
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    while (r.next()) (r.field, r.wireType) match {
      case (7, 2) => attrs ++= decodeKeyValue(r.message(), utf8)
      case (2, 1) => ts = r.fixed64()
      case (3, 1) => v = r.double(); saw = true
      case (6, 1) => v = r.fixed64().toDouble; saw = true
      case (4, 2) => spanId = hex(r.bytes())
      case (5, 2) => traceId = hex(r.bytes())
      case _ => r.skip()
    }
    if (ts == 0L || !saw) None
    else Some((attrs ++
      (if (traceId.nonEmpty) Map("trace_id" -> traceId) else Map.empty) ++
      (if (spanId.nonEmpty) Map("span_id" -> spanId) else Map.empty),
      ts, v))
  }

  /** One OTLP SummaryDataPoint → (attributes, time ns, count, sum,
    * (quantile, value) pairs). Field numbers (SummaryDataPoint):
    * time_unix_nano=3, count=4 (fixed64), sum=5 (double),
    * quantile_values=6 (ValueAtQuantile{ quantile=1, value=2 — both
    * double }), attributes=7, flags=8. Points with no timestamp or the
    * no-recorded-value staleness flag skip, like number points. */
  private def decodeSummaryPoint(r: Wire.Reader, utf8: Boolean)
      : Option[(Map[String, String], Long, Long, Double,
        Seq[(Double, Double)])] = {
    var ts = 0L; var count = 0L; var sum = 0.0; var stale = false
    var attrs = Map.empty[String, String]
    val quantiles = mutable.ArrayBuffer.empty[(Double, Double)]
    while (r.next()) (r.field, r.wireType) match {
      case (3, 1) => ts = r.fixed64()
      case (4, 1) => count = r.fixed64()
      case (5, 1) => sum = r.double()
      case (6, 2) =>
        val vq = r.message()
        var qq = 0.0; var qv = 0.0
        while (vq.next()) (vq.field, vq.wireType) match {
          case (1, 1) => qq = vq.double()
          case (2, 1) => qv = vq.double()
          case _ => vq.skip()
        }
        quantiles += ((qq, qv))
      case (7, 2) => attrs ++= decodeKeyValue(r.message(), utf8)
      case (8, 0) => stale = (r.varint() & FlagNoRecordedValue) != 0L
      case _ => r.skip()
    }
    if (ts == 0L || stale) None
    else Some((attrs, ts, count, sum, quantiles.toSeq))
  }

  /** One OTLP fixed-bucket HistogramDataPoint → an NHCB native histogram
    * (schema -53): `explicit_bounds` become `custom_values`, bucket i
    * keeps index i (engine NHCB convention: bucket i covers
    * `(custom_values[i-1], custom_values[i]]`, bucket 0 starts at 0), and
    * the final `(last_bound, +Inf)` count lands at index
    * `size(custom_values)` — the overflow bucket
    * [[graft.metric.NativeHistograms]] clamps to the highest finite
    * bound, Prometheus's classic-histogram quantile convention. Points
    * with no timestamp, the staleness flag, empty bounds, or a
    * counts/bounds length mismatch are skipped (malformed under the OTLP
    * spec, which requires `len(counts) == len(bounds) + 1`).
    *
    * Field numbers (HistogramDataPoint): attributes=9, time_unix_nano=3,
    * count=4 (fixed64), sum=5 (double), bucket_counts=6 (repeated
    * fixed64, packed), explicit_bounds=7 (repeated double, packed),
    * exemplars=8, flags=10. */
  private def decodeFixedHistogramPoint(r: Wire.Reader, utf8: Boolean)
      : Option[(RemoteWrite.HistogramSample, Seq[Wire.Reader])] = {
    var ts = 0L; var count = 0L; var sum = 0.0; var stale = false
    var attrs = Map.empty[String, String]
    val counts = mutable.ArrayBuffer.empty[Long]
    val bounds = mutable.ArrayBuffer.empty[Double]
    val exemplars = mutable.ArrayBuffer.empty[Wire.Reader]
    while (r.next()) (r.field, r.wireType) match {
      case (9, 2) => attrs ++= decodeKeyValue(r.message(), utf8)
      case (3, 1) => ts = r.fixed64()
      case (4, 1) => count = r.fixed64()
      case (5, 1) => sum = r.double()
      case (6, _) => r.packedFixed64(counts += _) // bucket_counts
      case (7, _) => r.packedDoubles(bounds += _) // explicit_bounds
      case (8, 2) => exemplars += r.message()
      case (10, 0) => stale = (r.varint() & FlagNoRecordedValue) != 0L
      case _ => r.skip()
    }
    if (ts == 0L || stale || bounds.isEmpty || counts.length != bounds.length + 1)
      None
    else Some((RemoteWrite.HistogramSample("", attrs, ts / 1000000L,
      count = count.toDouble, sum = sum, schema = -53,
      zeroThreshold = 0.0, zeroCount = 0.0,
      positiveBuckets = counts.zipWithIndex.collect {
        case (c, i) if c != 0L => (i, c.toDouble) }.toSeq,
      negativeBuckets = Nil,
      customValues = bounds.toSeq), exemplars.toSeq))
  }

  private def decodeKeyValue(r: Wire.Reader, utf8: Boolean): Map[String, String] = {
    var key = ""
    var value = ""
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => key = r.string()
      case (2, 2) => value = decodeAnyValue(r.message())
      case _ => r.skip()
    }
    if (key.isEmpty) Map.empty
    else Map((if (utf8) key else sanitizeLabel(key)) -> value)
  }

  /** Attribute-name translation (Prometheus label charset — like
    * [[sanitizeName]] but labels may not contain ':'). */
  def sanitizeLabel(name: String): String = {
    val s = name.map(c =>
      if (c.isLetterOrDigit && c < 128 || c == '_') c else '_')
    if (s.nonEmpty && s.head.isDigit) "_" + s else s
  }

  private def decodeAnyValue(r: Wire.Reader): String = {
    // the `values = 1` records of an ArrayValue or a KeyValueList
    def values(list: Wire.Reader)(f: Wire.Reader => Unit): Unit =
      while (list.next()) (list.field, list.wireType) match {
        case (1, 2) => f(list.message())
        case _ => list.skip()
      }
    var out = ""
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => out = r.string() // string_value
      case (2, 0) => out = (r.varint() != 0L).toString // bool_value
      case (3, 0) => out = r.varint().toString // int_value
      case (4, 1) => out = r.double().toString // double_value
      case (5, 2) => // array_value: ArrayValue{ repeated AnyValue values = 1 }
        val items = mutable.ArrayBuffer.empty[String]
        values(r.message())(v => items += decodeAnyValue(v))
        out = items.mkString("[", ",", "]")
      case (6, 2) => // kvlist_value: KeyValueList{ repeated KeyValue values = 1 }
        val items = mutable.ArrayBuffer.empty[String]
        values(r.message())(kv => decodeKeyValue(kv, utf8 = false)
          .foreach { case (k, v) => items += s"$k=$v" })
        out = items.mkString("{", ",", "}")
      // bytes_value -> base64 (never a silently-empty label)
      case (7, 2) => out = java.util.Base64.getEncoder.encodeToString(r.bytes())
      case _ => r.skip()
    }
    out
  }

  /** OTLP→Prometheus metric-name translation: every char outside
    * `[a-zA-Z0-9_:]` becomes '_', a leading digit gains a '_' prefix. */
  def sanitizeName(name: String): String = {
    val s = name.map(c =>
      if (c.isLetterOrDigit && c < 128 || c == '_' || c == ':') c else '_')
    if (s.nonEmpty && s.head.isDigit) "_" + s else s
  }

  // ------------------------------------------------------------- encoder
  // Test/fixture encoder (differential twin of the decoder, like
  // RemoteWrite.encode): one ResourceMetrics with the given resource
  // attributes and one gauge or sum metric per (name, points) entry.

  /** Fixture Exemplar (ids as lowercase hex strings). */
  final case class ExemplarSpec(attrs: Map[String, String], timeNano: Long,
      value: Double, traceIdHex: String = "", spanIdHex: String = "")

  final case class Point(attrs: Map[String, String], timeNano: Long,
      value: Double, asInt: Boolean = false, noValue: Boolean = false,
      flags: Long = 0L, exemplars: Seq[ExemplarSpec] = Nil)

  /** Fixture ExponentialHistogramDataPoint (dense OTLP buckets). */
  final case class ExpHistPoint(attrs: Map[String, String], timeNano: Long,
      count: Long, sum: Double, scale: Int, zeroCount: Long,
      posOffset: Int, posCounts: Seq[Long],
      negOffset: Int = 0, negCounts: Seq[Long] = Nil,
      zeroThreshold: Double = 0.0, flags: Long = 0L)

  /** Fixture fixed-bucket HistogramDataPoint. */
  final case class HistPoint(attrs: Map[String, String], timeNano: Long,
      count: Long, sum: Double, bucketCounts: Seq[Long],
      explicitBounds: Seq[Double], flags: Long = 0L)

  /** Fixture SummaryDataPoint. */
  final case class SummaryPoint(attrs: Map[String, String], timeNano: Long,
      count: Long, sum: Double, quantiles: Seq[(Double, Double)],
      flags: Long = 0L)

  final case class MetricSpec(name: String, points: Seq[Point],
      sum: Boolean = false, deltaTemporality: Boolean = false,
      expPoints: Seq[ExpHistPoint] = Nil, histPoints: Seq[HistPoint] = Nil,
      summaryPoints: Seq[SummaryPoint] = Nil, monotonic: Boolean = false)

  def encode(resourceAttrs: Map[String, String],
      metrics: Seq[MetricSpec]): Array[Byte] = {
    // KeyValue { key = 1; AnyValue value = 2 { string_value = 1 } }
    def keyValues(w: Wire.Writer, field: Int, attrs: Map[String, String]): Unit =
      attrs.toSeq.sortBy(_._1).foreach { case (k, v) =>
        w.message(field)(_.string(1, k).message(2)(_.string(1, v))) }
    def flags(w: Wire.Writer, field: Int, v: Long): Unit =
      if (v != 0L) w.varint(field, v)
    def numberPoint(dp: Wire.Writer, p: Point): Unit = {
      dp.fixed64(3, p.timeNano)
      if (!p.noValue) {
        if (p.asInt) dp.fixed64(6, p.value.toLong) else dp.double(4, p.value)
      }
      flags(dp, 8, p.flags)
      keyValues(dp, 7, p.attrs)
      p.exemplars.foreach { x =>
        def unhex(h: String): Array[Byte] =
          h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        dp.message(5) { xb =>
          keyValues(xb, 7, x.attrs)
          xb.fixed64(2, x.timeNano).double(3, x.value)
          if (x.spanIdHex.nonEmpty) xb.bytes(4, unhex(x.spanIdHex))
          if (x.traceIdHex.nonEmpty) xb.bytes(5, unhex(x.traceIdHex))
        }
      }
    }
    def expPoint(dp: Wire.Writer, p: ExpHistPoint): Unit = {
      keyValues(dp, 1, p.attrs)
      dp.fixed64(3, p.timeNano).fixed64(4, p.count).double(5, p.sum)
        .sint(6, p.scale.toLong).fixed64(7, p.zeroCount)
      def buckets(field: Int, offset: Int, counts: Seq[Long]): Unit =
        if (counts.nonEmpty)
          dp.message(field)(_.sint(1, offset.toLong).packedVarints(2, counts))
      buckets(8, p.posOffset, p.posCounts)
      buckets(9, p.negOffset, p.negCounts)
      flags(dp, 10, p.flags)
      if (p.zeroThreshold != 0.0) dp.double(14, p.zeroThreshold)
    }
    def histPoint(dp: Wire.Writer, p: HistPoint): Unit = {
      dp.fixed64(3, p.timeNano).fixed64(4, p.count).double(5, p.sum)
        .packedFixed64(6, p.bucketCounts).packedDoubles(7, p.explicitBounds)
      flags(dp, 10, p.flags)
      keyValues(dp, 9, p.attrs)
    }
    def summaryPoint(dp: Wire.Writer, p: SummaryPoint): Unit = {
      dp.fixed64(3, p.timeNano).fixed64(4, p.count).double(5, p.sum)
      p.quantiles.foreach { case (q, v) => dp.message(6)(_.double(1, q).double(2, v)) }
      keyValues(dp, 7, p.attrs)
      flags(dp, 8, p.flags)
    }
    def metric(mw: Wire.Writer, m: MetricSpec): Unit = {
      def temporality(w: Wire.Writer): Unit =
        w.varint(2, if (m.deltaTemporality) 1L else 2L)
      mw.string(1, m.name)
      if (m.expPoints.nonEmpty) mw.message(10) { d =>
        m.expPoints.foreach(p => d.message(1)(expPoint(_, p))); temporality(d) }
      else if (m.histPoints.nonEmpty) mw.message(9) { d =>
        m.histPoints.foreach(p => d.message(1)(histPoint(_, p))); temporality(d) }
      else if (m.summaryPoints.nonEmpty) mw.message(11) { d =>
        m.summaryPoints.foreach(p => d.message(1)(summaryPoint(_, p))) }
      else mw.message(if (m.sum) 7 else 5) { d =>
        m.points.foreach(p => d.message(1)(numberPoint(_, p)))
        if (m.sum) {
          temporality(d)
          if (m.monotonic) d.varint(3, 1L)
        }
      }
    }
    val w = new Wire.Writer
    w.message(1) { rm => // request.resource_metrics
      rm.message(1)(keyValues(_, 1, resourceAttrs)) // resource
      rm.message(2)(sm => metrics.foreach(m => sm.message(2)(metric(_, m))))
    }
    w.toByteArray
  }
}
