package graft.streaming

import scala.collection.mutable

import graft.metric.Sample

/** Hand-rolled decoder for the Prometheus remote-write v1 wire format — the
  * public protobuf layout (prometheus/prompb/remote.proto, mirrored by the
  * reference at src/pb_types/protos/remote_write.proto:22-77):
  *
  * {{{
  * WriteRequest { repeated TimeSeries timeseries = 1; }
  * TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
  * Label        { string name = 1; string value = 2; }
  * Sample       { double value = 1; int64 timestamp = 2; }   // ms epoch
  * }}}
  *
  * Zero dependencies: every record reads and writes through [[Wire]], the
  * one bounded protobuf reader and writer (the reference's pooled
  * zero-copy parser is the same idea,
  * src/remote_write/src/pb_reader.rs:85-467 — JVM-side we parse straight
  * to [[Sample]]s). The full request surface the reference parses —
  * exemplars (TimeSeries field 3) and metric metadata (WriteRequest field
  * 3, remote_write.proto:22-77) — decodes via [[decodeRequest]];
  * [[decode]] stays the samples-only fast path the ingest pipeline
  * consumes.
  */
object RemoteWrite {

  val NameLabel = "__name__"

  /** Exemplar attached to a series (proto Exemplar: labels/value/ts). */
  final case class Exemplar(name: String, seriesLabels: Map[String, String],
      labels: Map[String, String], value: Double, timestamp: Long)

  /** MetricMetadata (proto field numbers 1/2/4/5; `metricType` is the raw
    * enum ordinal — 1=counter, 2=gauge, ... as in prompb). */
  final case class Metadata(metricType: Int, familyName: String,
      help: String, unit: String)

  /** A native (exponential/sparse) histogram sample — the prompb
    * `Histogram` message (prometheus/prompb/types.proto, mirrored at
    * io/prometheus/write/v2/types.proto with identical field numbers plus
    * `custom_values` = 16 for custom-bucket histograms, "NHCB").
    *
    * The wire's sparse encoding (bucket SPANS of consecutive indexes +
    * count DELTAS for integer histograms / absolute float counts for
    * float histograms) is resolved at decode to absolute
    * `(bucket index, count)` pairs — the form every consumer needs and
    * the one that stores columnar without re-walking deltas per read.
    * `floatHistogram` records which of the two count encodings arrived so
    * the encoder can round-trip losslessly.
    *
    * Standard schemas (-4..8): positive bucket `i` covers
    * `(base^(i-1), base^i]` with `base = 2^(2^-schema)`; negative bucket
    * `i` covers `[-base^i, -base^(i-1))`; the zero bucket covers
    * `[-zeroThreshold, zeroThreshold]`. Schema -53 = custom bucket
    * bounds: `customValues` are ascending upper bounds and positive
    * bucket indexes index into them (le-style classic buckets riding the
    * native wire). */
  final case class HistogramSample(
      name: String, labels: Map[String, String], timestamp: Long,
      count: Double, sum: Double, schema: Int,
      zeroThreshold: Double, zeroCount: Double,
      positiveBuckets: Seq[(Int, Double)],
      negativeBuckets: Seq[(Int, Double)],
      customValues: Seq[Double] = Nil,
      resetHint: Int = 0,
      floatHistogram: Boolean = false)

  final case class Request(samples: Seq[Sample], exemplars: Seq[Exemplar],
      metadata: Seq[Metadata], histograms: Seq[HistogramSample] = Nil)

  /** Snappy unframing: real Prometheus remote-write HTTP bodies are snappy
    * BLOCK-compressed (prometheus remote-write 1.0 spec: the payload "MUST
    * be compressed with snappy"); the reference parses pre-decoded bytes
    * (remote_write/src/pooled_parser.rs:43-73) so raw protobuf must keep
    * working for replayed captures. Snappy's block format carries no magic
    * bytes, so sniff by validation: a valid snappy buffer is uncompressed,
    * anything else passes through raw. (A raw WriteRequest starts 0x0a and
    * its first varint would declare an uncompressed length equal to a label
    * byte-length — snappy validation rejects it immediately, so the sniff
    * cannot misfire on real payloads.) Because that validation is
    * structural, not a tagged encoding, a raw body that nonetheless
    * validates as snappy must not be silently decompressed into garbage:
    * the decompressed bytes are kept only when they walk as a protobuf
    * message; otherwise a raw-parsable input passes through untouched. */
  def unframe(bytes: Array[Byte]): Array[Byte] =
    try {
      if (bytes.nonEmpty &&
          org.xerial.snappy.Snappy.isValidCompressedBuffer(bytes, 0, bytes.length)) {
        val un = org.xerial.snappy.Snappy.uncompress(bytes)
        if (walksAsMessage(un) || !walksAsMessage(bytes)) un else bytes
      } else bytes
    } catch { case scala.util.control.NonFatal(_) => bytes }

  /** Structural protobuf walk: every top-level record has a positive field
    * number, a known wire type, and a body within bounds. Cheap (no
    * allocation) and sufficient to tell a WriteRequest from snappy-
    * decompressed garbage. */
  private def walksAsMessage(b: Array[Byte]): Boolean =
    try {
      val r = new Wire.Reader(b)
      while (r.next()) { if (r.field <= 0) return false; r.skip() }
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Samples-only fast path for the ingest pipeline: exemplar and metadata
    * bodies are SKIPPED at the wire level (zero allocation for them), as
    * before the full-request decode existed. Accepts snappy-framed or raw
    * payloads (see [[unframe]]) in EITHER remote-write version — 1.0
    * WriteRequest or 2.0 io.prometheus.write.v2.Request (see
    * [[decodeRequestV2]]); the versions use disjoint top-level field
    * numbers (v2 reserves 1-3), so [[looksLikeV2]] dispatches without a
    * content-type hint. */
  def decode(bytes: Array[Byte]): Seq[Sample] = {
    val un = unframe(bytes)
    if (looksLikeV2(un)) decodeV2Impl(un, collectExtras = false).samples
    else decodeImpl(un, collectExtras = false).samples
  }

  /** [[decode]] plus the native histograms the payload carries — the
    * STREAMING sink's decode ([[graft.streaming.MetricStreamIngest]]):
    * histogram bodies are decoded either way (they share the TimeSeries
    * record), so a sink that calls [[decode]] pays their cost and then
    * silently LOSES them — the same payload POSTed to the HTTP edge
    * ingests them via [[decodeRequest]]. Exemplars/metadata stay skipped
    * at the wire level. */
  def decodeSamplesAndHistograms(
      bytes: Array[Byte]): (Seq[Sample], Seq[HistogramSample]) = {
    val un = unframe(bytes)
    val r = if (looksLikeV2(un)) decodeV2Impl(un, collectExtras = false)
            else decodeImpl(un, collectExtras = false)
    (r.samples, r.histograms)
  }

  /** Full request decode: timeseries (labels + samples + exemplars)
    * and metric metadata records. Unknown fields are skipped. Accepts
    * snappy-framed or raw payloads (see [[unframe]]), remote-write 1.0
    * or 2.0 (version-sniffed like [[decode]]). */
  def decodeRequest(bytes: Array[Byte]): Request = {
    val un = unframe(bytes)
    if (looksLikeV2(un)) decodeV2Impl(un, collectExtras = true)
    else decodeImpl(un, collectExtras = true)
  }

  /** Remote-write 2.0 decode (io.prometheus.write.v2.Request — what
    * Prometheus 3.x sends; prometheus/prompb/io/prometheus/write/v2/
    * types.proto):
    *
    * {{{
    * Request    { repeated string symbols = 4; repeated TimeSeries timeseries = 5; }
    * TimeSeries { repeated uint32 labels_refs = 1;   // packed; (name,value) index pairs
    *              repeated Sample samples = 2;
    *              repeated Histogram histograms = 3; // native histograms
    *              repeated Exemplar exemplars = 4;
    *              Metadata metadata = 5; int64 created_timestamp = 6; }
    * Exemplar   { repeated uint32 labels_refs = 1; double value = 2; int64 timestamp = 3; }
    * Metadata   { MetricType type = 1; uint32 help_ref = 3; uint32 unit_ref = 4; }
    * }}}
    *
    * All strings intern into `symbols` (index 0 is "" by spec); label refs
    * come in (name, value) pairs. Packed and unpacked refs both parse
    * (proto3 parsers must accept either). Native histograms (TimeSeries
    * field 3) decode to [[HistogramSample]]s — Prometheus 3.x sends them
    * by default on new scrapes, so dropping them would silently lose data
    * on an otherwise-accepted write. v2 metadata carries no
    * family name — the series' own `__name__` is the family, which is how
    * Prometheus 3 populates it. Out-of-range refs error (the HTTP layer
    * answers 400, never a silent mis-binding). */
  def decodeRequestV2(bytes: Array[Byte]): Request =
    decodeV2Impl(unframe(bytes), collectExtras = true)

  /** v1/v2 dispatch on the top-level field numbers — disjoint by design
    * (v1 uses 1/3, v2 reserves 1-3 and uses 4/5). */
  private[streaming] def looksLikeV2(b: Array[Byte]): Boolean =
    try {
      val r = new Wire.Reader(b)
      while (r.next()) r.field match {
        case 4 | 5 => return true
        case 1 | 2 | 3 => return false
        case _ => r.skip()
      }
      false
    } catch { case scala.util.control.NonFatal(_) => false }

  private def decodeV2Impl(bytes: Array[Byte], collectExtras: Boolean): Request = {
    // two passes: symbols may legally serialize after the timeseries that
    // reference them, so collect the series records first, resolve after
    val symbols = mutable.ArrayBuffer.empty[String]
    val series = mutable.ArrayBuffer.empty[Wire.Reader]
    val r = new Wire.Reader(bytes)
    while (r.next()) (r.field, r.wireType) match {
      case (4, 2) => symbols += r.string()
      case (5, 2) => series += r.message()
      case _ => r.skip()
    }
    def sym(ref: Int): String = {
      if (ref < 0 || ref >= symbols.length)
        sys.error(s"labels_refs index $ref out of range (${symbols.length} symbols)")
      symbols(ref)
    }
    def labelsOf(refs: Seq[Int]): Map[String, String] = {
      if (refs.length % 2 != 0) sys.error("odd labels_refs count")
      refs.grouped(2).map { case Seq(n, v) => sym(n) -> sym(v) }.toMap
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val exemplars = mutable.ArrayBuffer.empty[Exemplar]
    val metadata = mutable.ArrayBuffer.empty[Metadata]
    val histograms = mutable.ArrayBuffer.empty[HistogramSample]
    series.foreach { ts =>
      val refs = mutable.ArrayBuffer.empty[Int]
      val ss = mutable.ArrayBuffer.empty[(Long, Double)]
      val hs = mutable.ArrayBuffer.empty[HistogramSample]
      val exs = mutable.ArrayBuffer.empty[(Seq[Int], Double, Long)]
      var md: Option[(Int, Int, Int)] = None // (type, help_ref, unit_ref)
      while (ts.next()) (ts.field, ts.wireType) match {
        case (1, _) => ts.packedVarints(v => refs += v.toInt)
        case (2, 2) => ss += readSample(ts.message())
        case (3, 2) => hs += decodeHistogram(ts.message()) // native histogram
        case (4, 2) if collectExtras => exs += decodeExemplarV2(ts.message())
        case (5, 2) if collectExtras => md = Some(decodeMetadataV2(ts.message()))
        case _ => ts.skip()
      }
      val labels = labelsOf(refs.toSeq)
      val name = labels.getOrElse(NameLabel, "")
      val rest = labels - NameLabel
      samples ++= ss.map { case (t, v) => Sample(name, rest, t, v) }
      histograms ++= hs.map(_.copy(name = name, labels = rest))
      exemplars ++= exs.map { case (eRefs, v, t) =>
        Exemplar(name, rest, labelsOf(eRefs), v, t) }
      md.foreach { case (tpe, helpRef, unitRef) =>
        metadata += Metadata(tpe, name, sym(helpRef), sym(unitRef)) }
    }
    Request(samples.toSeq, exemplars.toSeq, metadata.toSeq, histograms.toSeq)
  }

  /** Decode one prompb `Histogram` record (shared by remote-write 1.0
    * TimeSeries field 4 and 2.0 TimeSeries field 3 — identical layout).
    * Sparse spans + integer deltas (or float absolute counts) resolve to
    * absolute `(index, count)` pairs here, once, at the edge. The
    * `name`/`labels` fields are stamped by the caller (they live on the
    * enclosing TimeSeries). */
  private def decodeHistogram(r: Wire.Reader): HistogramSample = {
    var countI = 0L; var countF = 0.0; var countIsFloat = false
    var sum = 0.0; var schema = 0; var zeroTh = 0.0
    var zeroI = 0L; var zeroF = 0.0; var zeroIsFloat = false
    var resetHint = 0; var ts = 0L
    val negSpans = mutable.ArrayBuffer.empty[(Int, Int)]
    val posSpans = mutable.ArrayBuffer.empty[(Int, Int)]
    val negDeltas = mutable.ArrayBuffer.empty[Long]
    val posDeltas = mutable.ArrayBuffer.empty[Long]
    val negCounts = mutable.ArrayBuffer.empty[Double]
    val posCounts = mutable.ArrayBuffer.empty[Double]
    val customValues = mutable.ArrayBuffer.empty[Double]
    while (r.next()) (r.field, r.wireType) match {
      case (1, 0) => countI = r.varint()
      case (2, 1) => countF = r.double(); countIsFloat = true
      case (3, 1) => sum = r.double()
      case (4, 0) => schema = r.sint().toInt
      case (5, 1) => zeroTh = r.double()
      case (6, 0) => zeroI = r.varint()
      case (7, 1) => zeroF = r.double(); zeroIsFloat = true
      case (8, 2) => negSpans += decodeBucketSpan(r.message())
      case (9, _) => r.packedVarints(v => negDeltas += Wire.zigzagDecode(v))
      case (10, _) => r.packedDoubles(negCounts += _)
      case (11, 2) => posSpans += decodeBucketSpan(r.message())
      case (12, _) => r.packedVarints(v => posDeltas += Wire.zigzagDecode(v))
      case (13, _) => r.packedDoubles(posCounts += _)
      case (14, 0) => resetHint = r.varint().toInt
      case (15, 0) => ts = r.varint()
      case (16, _) => r.packedDoubles(customValues += _)
      case _ => r.skip()
    }
    val isFloat = countIsFloat || zeroIsFloat ||
      posCounts.nonEmpty || negCounts.nonEmpty
    HistogramSample("", Map.empty, ts,
      count = if (countIsFloat) countF else countI.toDouble,
      sum = sum, schema = schema, zeroThreshold = zeroTh,
      zeroCount = if (zeroIsFloat) zeroF else zeroI.toDouble,
      positiveBuckets = expandSparseBuckets(
        posSpans.toSeq, posDeltas.toSeq, posCounts.toSeq),
      negativeBuckets = expandSparseBuckets(
        negSpans.toSeq, negDeltas.toSeq, negCounts.toSeq),
      customValues = customValues.toSeq,
      resetHint = resetHint, floatHistogram = isFloat)
  }

  private def decodeBucketSpan(r: Wire.Reader): (Int, Int) = {
    var offset = 0; var length = 0
    while (r.next()) (r.field, r.wireType) match {
      case (1, 0) => offset = r.sint().toInt
      case (2, 0) => length = r.varint().toInt
      case _ => r.skip()
    }
    (offset, length)
  }

  /** Resolve sparse spans + deltas (int histograms) or spans + absolute
    * counts (float histograms) to absolute `(index, count)` pairs. The
    * first span's offset is the absolute starting index; each later
    * span's offset is the gap from the end of the previous span (the
    * public prompb comment contract). Integer deltas accumulate: bucket
    * k's count = sum of deltas[0..k]. */
  private[streaming] def expandSparseBuckets(spans: Seq[(Int, Int)],
      deltas: Seq[Long], counts: Seq[Double]): Seq[(Int, Double)] = {
    val total = spans.map(_._2.toLong).sum
    val n = if (counts.nonEmpty) counts.length else deltas.length
    if (total != n)
      sys.error(s"histogram spans declare $total buckets but $n counts arrived")
    val out = mutable.ArrayBuffer.empty[(Int, Double)]
    var idx = 0
    var i = 0
    var cur = 0L
    spans.foreach { case (offset, length) =>
      idx += offset
      var j = 0
      while (j < length) {
        val c =
          if (counts.nonEmpty) counts(i)
          else { cur += deltas(i); cur.toDouble }
        out += ((idx, c))
        idx += 1; i += 1; j += 1
      }
    }
    out.toSeq
  }

  private def decodeExemplarV2(r: Wire.Reader): (Seq[Int], Double, Long) = {
    val refs = mutable.ArrayBuffer.empty[Int]
    var value = 0.0
    var ts = 0L
    while (r.next()) (r.field, r.wireType) match {
      case (1, _) => r.packedVarints(v => refs += v.toInt)
      case (2, 1) => value = r.double()
      case (3, 0) => ts = r.varint()
      case _ => r.skip()
    }
    (refs.toSeq, value, ts)
  }

  private def decodeMetadataV2(r: Wire.Reader): (Int, Int, Int) = {
    var tpe = 0
    var helpRef = 0
    var unitRef = 0
    while (r.next()) (r.field, r.wireType) match {
      case (1, 0) => tpe = r.varint().toInt
      case (3, 0) => helpRef = r.varint().toInt
      case (4, 0) => unitRef = r.varint().toInt
      case _ => r.skip()
    }
    (tpe, helpRef, unitRef)
  }

  private def decodeImpl(bytes: Array[Byte], collectExtras: Boolean): Request = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val exemplars = mutable.ArrayBuffer.empty[Exemplar]
    val metadata = mutable.ArrayBuffer.empty[Metadata]
    val histograms = mutable.ArrayBuffer.empty[HistogramSample]
    val r = new Wire.Reader(bytes)
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => decodeTimeSeries(r.message(), samples, histograms,
        if (collectExtras) Some(exemplars) else None)
      case (3, 2) if collectExtras => metadata += decodeMetadata(r.message())
      case _ => r.skip()
    }
    Request(samples.toSeq, exemplars.toSeq, metadata.toSeq, histograms.toSeq)
  }

  private def decodeTimeSeries(r: Wire.Reader,
      samplesOut: mutable.ArrayBuffer[Sample],
      histogramsOut: mutable.ArrayBuffer[HistogramSample],
      exemplarsOut: Option[mutable.ArrayBuffer[Exemplar]]): Unit = {
    val labels = mutable.LinkedHashMap.empty[String, String]
    val samples = mutable.ArrayBuffer.empty[(Long, Double)]
    val histograms = mutable.ArrayBuffer.empty[HistogramSample]
    val exemplars = mutable.ArrayBuffer.empty[(Map[String, String], Double, Long)]
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => labels += readLabel(r.message())
      case (2, 2) => samples += readSample(r.message())
      // exemplar — parsed only for the full-request path
      case (3, 2) if exemplarsOut.isDefined => exemplars += decodeExemplar(r.message())
      case (4, 2) => histograms += decodeHistogram(r.message()) // native histogram
      case _ => r.skip()
    }
    val name = labels.getOrElse(NameLabel, "")
    val rest = (labels - NameLabel).toMap
    samplesOut ++= samples.map { case (ts, v) => Sample(name, rest, ts, v) }
    histogramsOut ++= histograms.map(_.copy(name = name, labels = rest))
    exemplarsOut.foreach(_ ++= exemplars.map { case (ls, v, ts) =>
      Exemplar(name, rest, ls, v, ts) })
  }

  private def decodeExemplar(r: Wire.Reader): (Map[String, String], Double, Long) = {
    val labels = mutable.LinkedHashMap.empty[String, String]
    var value = 0.0
    var ts = 0L
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => labels += readLabel(r.message())
      case (2, 1) => value = r.double()
      case (3, 0) => ts = r.varint()
      case _ => r.skip()
    }
    (labels.toMap, value, ts)
  }

  private def decodeMetadata(r: Wire.Reader): Metadata = {
    var tpe = 0
    var family = ""
    var help = ""
    var unit = ""
    while (r.next()) (r.field, r.wireType) match {
      case (1, 0) => tpe = r.varint().toInt
      case (2, 2) => family = r.string()
      case (4, 2) => help = r.string()
      case (5, 2) => unit = r.string()
      case _ => r.skip()
    }
    Metadata(tpe, family, help, unit)
  }

  /** prompb `Label { string name = 1; string value = 2; }` — the one
    * label codec of remote write, remote read and chunked read. */
  private[streaming] def readLabel(r: Wire.Reader): (String, String) = {
    var name = ""
    var value = ""
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => name = r.string()
      case (2, 2) => value = r.string()
      case _ => r.skip()
    }
    (name, value)
  }

  /** prompb `Sample { double value = 1; int64 timestamp = 2; }` as
    * `(timestamp, value)`. */
  private[streaming] def readSample(r: Wire.Reader): (Long, Double) = {
    var value = 0.0
    var ts = 0L
    while (r.next()) (r.field, r.wireType) match {
      case (1, 1) => value = r.double()
      case (2, 0) => ts = r.varint()
      case _ => r.skip()
    }
    (ts, value)
  }

  /** Labels as repeated `Label` field 1 — of a TimeSeries, an Exemplar
    * or a ChunkedSeries. */
  private[streaming] def writeLabels(w: Wire.Writer,
      labels: Iterable[(String, String)]): Unit =
    labels.foreach { case (k, v) => w.message(1)(_.string(1, k).string(2, v)) }

  /** One `Sample` as TimeSeries field 2. */
  private[streaming] def writeSample(w: Wire.Writer, ts: Long, v: Double): Unit =
    w.message(2)(_.double(1, v).varint(2, ts))

  // ------------------------------------------------------------- encoder
  // Minimal writer for tests and the soak harness (differential fixture
  // analog of the reference's equivalence_test.rs).

  def encode(samples: Seq[Sample]): Array[Byte] =
    encodeRequest(Request(samples, Nil, Nil))

  /** Absolute `(index, count)` pairs → prompb spans + (deltas | counts):
    * the inverse of [[expandSparseBuckets]]. Buckets must arrive sorted
    * by index (the decode side always produces them sorted). */
  private def sparseOf(buckets: Seq[(Int, Double)],
      asFloat: Boolean): (Seq[(Int, Int)], Seq[Long], Seq[Double]) = {
    val spans = mutable.ArrayBuffer.empty[(Int, Int)]
    var prevEnd = 0
    buckets.foreach { case (idx, _) =>
      if (spans.nonEmpty && idx == prevEnd) {
        val (o, l) = spans.last
        spans(spans.length - 1) = (o, l + 1)
      } else spans += ((idx - prevEnd, 1))
      prevEnd = idx + 1
    }
    if (asFloat) (spans.toSeq, Nil, buckets.map(_._2))
    else {
      var cur = 0L
      val deltas = buckets.map { case (_, c) =>
        val d = c.toLong - cur; cur = c.toLong; d
      }
      (spans.toSeq, deltas, Nil)
    }
  }

  /** The fields of one prompb `Histogram` record (shared v1/v2 layout). */
  private def writeHistogram(w: Wire.Writer, h: HistogramSample): Unit = {
    if (h.floatHistogram) w.double(2, h.count) else w.varint(1, h.count.toLong)
    w.double(3, h.sum).sint(4, h.schema.toLong).double(5, h.zeroThreshold)
    if (h.floatHistogram) w.double(7, h.zeroCount)
    else w.varint(6, h.zeroCount.toLong)
    // spans, deltas and counts at fields spanField, +1 and +2:
    // negative 8/9/10, positive 11/12/13
    def buckets(spanField: Int, bs: Seq[(Int, Double)]): Unit = {
      val (spans, deltas, counts) = sparseOf(bs, h.floatHistogram)
      spans.foreach { case (o, l) =>
        w.message(spanField)(_.sint(1, o.toLong).varint(2, l.toLong)) }
      if (deltas.nonEmpty)
        w.packedVarints(spanField + 1, deltas.map(Wire.zigzagEncode))
      if (counts.nonEmpty) w.packedDoubles(spanField + 2, counts)
    }
    buckets(8, h.negativeBuckets)
    buckets(11, h.positiveBuckets)
    if (h.resetHint != 0) w.varint(14, h.resetHint.toLong)
    w.varint(15, h.timestamp)
    if (h.customValues.nonEmpty) w.packedDoubles(16, h.customValues)
  }

  def encodeRequest(req: Request): Array[Byte] = {
    val w = new Wire.Writer
    val exBySeries = req.exemplars.groupBy(e => (e.name, e.seriesLabels))
    val histBySeries = req.histograms.groupBy(h => (h.name, h.labels))
    val seriesKeys = (req.samples.map(s => (s.name, s.labels)) ++
      exBySeries.keys ++ histBySeries.keys).distinct
    val byKey = req.samples.groupBy(s => (s.name, s.labels))
    seriesKeys.foreach { case key @ (name, labels) =>
      w.message(1) { ts =>
        writeLabels(ts, (NameLabel -> name) +: labels.toSeq.sortBy(_._1))
        byKey.getOrElse(key, Nil).foreach(s => writeSample(ts, s.timestamp, s.value))
        histBySeries.getOrElse(key, Nil).foreach(h => ts.message(4)(writeHistogram(_, h)))
        exBySeries.getOrElse(key, Nil).foreach { e =>
          ts.message(3) { ex =>
            writeLabels(ex, e.labels.toSeq.sortBy(_._1))
            ex.double(2, e.value).varint(3, e.timestamp)
          }
        }
      }
    }
    req.metadata.foreach { m =>
      w.message(3)(_.varint(1, m.metricType.toLong).string(2, m.familyName)
        .string(4, m.help).string(5, m.unit))
    }
    w.toByteArray
  }

  /** Remote-write 2.0 encoder (tests + soaks): interns every string into
    * the symbols table (index 0 = "" per spec) and emits packed
    * (name, value) label ref pairs. Metadata records attach to the series
    * whose `__name__` matches their family; families with no sample
    * series emit a bare metadata-only series, exactly how Prometheus 3
    * ships detached metadata. */
  def encodeV2(samples: Seq[Sample]): Array[Byte] =
    encodeRequestV2(Request(samples, Nil, Nil))

  def encodeRequestV2(req: Request): Array[Byte] = {
    val symbols = mutable.LinkedHashMap.empty[String, Int]
    symbols("") = 0
    def ref(s: String): Long = symbols.getOrElseUpdate(s, symbols.size).toLong
    def refs(labels: Seq[(String, String)]): Seq[Long] =
      labels.flatMap { case (k, v) => Seq(ref(k), ref(v)) }

    val exBySeries = req.exemplars.groupBy(e => (e.name, e.seriesLabels))
    val histBySeries = req.histograms.groupBy(h => (h.name, h.labels))
    val mdByFamily = req.metadata.groupBy(_.familyName)
    val byKey = req.samples.groupBy(s => (s.name, s.labels))
    // metadata attaches to its family's first series; families with no
    // series at all get a bare metadata-only series appended
    val seriesKeys = (req.samples.map(s => (s.name, s.labels)) ++
      exBySeries.keys ++ histBySeries.keys).distinct
    val familiesPresent = seriesKeys.map(_._1).toSet
    val allKeys = seriesKeys ++ mdByFamily.keys.toSeq.sorted
      .filterNot(familiesPresent).map(f => (f, Map.empty[String, String]))
    val tsRecords = new Wire.Writer
    val mdEmitted = mutable.Set.empty[String]
    allKeys.foreach { case key @ (name, labels) =>
      tsRecords.message(5) { ts =>
        ts.packedVarints(1, refs((NameLabel -> name) +: labels.toSeq.sortBy(_._1)))
        byKey.getOrElse(key, Nil).foreach(s => writeSample(ts, s.timestamp, s.value))
        histBySeries.getOrElse(key, Nil).foreach(h => ts.message(3)(writeHistogram(_, h)))
        exBySeries.getOrElse(key, Nil).foreach { e =>
          ts.message(4)(_.packedVarints(1, refs(e.labels.toSeq.sortBy(_._1)))
            .double(2, e.value).varint(3, e.timestamp))
        }
        if (!mdEmitted(name)) mdByFamily.get(name).map(_.head).foreach { m =>
          mdEmitted += name
          ts.message(5)(_.varint(1, m.metricType.toLong)
            .varint(3, ref(m.help)).varint(4, ref(m.unit)))
        }
      }
    }
    val out = new Wire.Writer
    symbols.keys.foreach(out.string(4, _))
    out.raw(tsRecords.toByteArray).toByteArray
  }
}
