package graft.streaming

import scala.collection.mutable

/** Hand-rolled codec for the Prometheus remote-READ wire format — the
  * public protobuf layout (prometheus/prompb/remote.proto; the reference
  * ships only the write half at src/pb_types/protos/remote_write.proto, so
  * this extends its serving edge with the protocol Prometheus itself uses
  * to query a remote storage backend via `remote_read:` config):
  *
  * {{{
  * ReadRequest  { repeated Query queries = 1;
  *                repeated ResponseType accepted_response_types = 2; }
  * Query        { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
  *                repeated LabelMatcher matchers = 3; ReadHints hints = 4; }
  * LabelMatcher { Type type = 1; string name = 2; string value = 3; }
  *                // Type: EQ=0 NEQ=1 RE=2 NRE=3
  * ReadResponse { repeated QueryResult results = 1; }  // one per query
  * QueryResult  { repeated TimeSeries timeseries = 1; }
  * TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
  * }}}
  *
  * Both negotiated response types are served: `SAMPLES` (0, the snappy-
  * framed default) and `STREAMED_XOR_CHUNKS` (1, round 11) — the chunked
  * streaming variant Prometheus prefers for large reads
  * (prompb ChunkedReadResponse over the uvarint-length + CRC32-Castagnoli
  * frame stream, content type
  * `application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse`;
  * chunk payloads are TSDB Gorilla XOR chunks, [[XorChunk]]):
  *
  * {{{
  * ChunkedReadResponse { repeated ChunkedSeries chunked_series = 1;
  *                       int64 query_index = 2; }
  * ChunkedSeries       { repeated Label labels = 1; repeated Chunk chunks = 2; }
  * Chunk               { int64 min_time_ms = 1; int64 max_time_ms = 2;
  *                       Encoding type = 3;      // XOR = 1
  *                       bytes data = 4; }
  * frame = uvarint(len(data)) ++ crc32c(data, 4 bytes BE) ++ data
  * }}}
  *
  * Chunked frames are NOT snappy-compressed (per the protocol — XOR
  * chunks are already compact). Sampled bodies stay snappy BLOCK
  * compressed on both directions (same framing as remote write;
  * [[RemoteWrite.unframe]] handles the sniffing on the way in). Every
  * record reads and writes through [[Wire]] (record bounds, unknown-field
  * skip, depth cap), and the Label and Sample codecs are
  * [[RemoteWrite]]'s.
  */
object RemoteRead {

  /** Matcher type ordinals follow prompb: 0=EQ, 1=NEQ, 2=RE, 3=NRE. */
  final case class Matcher(tpe: Int, name: String, value: String)

  /** One remote-read query; timestamps are INCLUSIVE epoch-ms bounds
    * (Prometheus selects `mint <= t <= maxt`). */
  final case class Query(startMs: Long, endMs: Long, matchers: Seq[Matcher])

  /** One result series: labels sorted by name, samples sorted by ts. */
  final case class Series(labels: Seq[(String, String)],
      samples: Seq[(Long, Double)])

  /** prompb matcher → the evaluator's matcher; unknown type ordinals are
    * an error (shared by the HTTP handler and the oracle fixture so the
    * two cannot drift). */
  def toPromQLMatcher(m: Matcher): graft.promql.LabelMatcher =
    graft.promql.LabelMatcher(m.name, m.tpe match {
      case 0 => graft.promql.MatchOp.Eq
      case 1 => graft.promql.MatchOp.Ne
      case 2 => graft.promql.MatchOp.Re
      case 3 => graft.promql.MatchOp.Nre
      case other => throw new IllegalArgumentException(
        s"unknown matcher type $other")
    }, m.value)

  /** Group raw (series_key, ts_ms, value) rows into wire [[Series]]:
    * labels = __name__ + the key's decoded labels, samples time-sorted,
    * series key-sorted — the one response shape both the HTTP handler and
    * the oracle fixture produce. */
  def seriesFromRows(rows: Seq[(String, Long, Double)],
      parseKey: String => (String, Map[String, String])): Seq[Series] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (key, rs) =>
      val (name, labels) = parseKey(key)
      Series(("__name__" -> name) +: labels.toSeq.sortBy(_._1),
        rs.map { case (_, ts, v) => (ts, v) }.sortBy(_._1))
    }

  /** A decoded ReadRequest: queries + the client's accepted response
    * types (prompb ordinals: 0 = SAMPLES, 1 = STREAMED_XOR_CHUNKS; empty
    * means SAMPLES). The serving edge negotiates: it answers with the
    * FIRST accepted type it can produce, per the protocol. */
  final case class ReadRequest(queries: Seq[Query], accepted: Seq[Int])

  /** Decode a (snappy-framed or raw) ReadRequest, negotiation left to the
    * caller. */
  def decodeReadRequest(bytes: Array[Byte]): ReadRequest = {
    val queries = mutable.ArrayBuffer.empty[Query]
    val accepted = mutable.ArrayBuffer.empty[Int]
    val r = new Wire.Reader(RemoteWrite.unframe(bytes))
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => queries += decodeQuery(r.message())
      case (2, _) => r.packedVarints(v => accepted += v.toInt) // repeated enum
      case _ => r.skip()
    }
    ReadRequest(queries.toSeq, accepted.toSeq)
  }

  /** Decode a ReadRequest for the SAMPLES path. Fails loudly when the
    * client refuses the SAMPLES response type AND the chunked type —
    * per the protocol the server must answer with a type the client
    * accepts (an empty accepted list means SAMPLES). */
  def decodeRequest(bytes: Array[Byte]): Seq[Query] = {
    val req = decodeReadRequest(bytes)
    require(req.accepted.isEmpty || req.accepted.contains(0),
      s"client accepts only response types ${req.accepted.mkString(",")}; " +
        "this entry point serves SAMPLES (0)")
    req.queries
  }

  private def decodeQuery(r: Wire.Reader): Query = {
    var startMs = 0L
    var endMs = 0L
    val matchers = mutable.ArrayBuffer.empty[Matcher]
    while (r.next()) (r.field, r.wireType) match {
      case (1, 0) => startMs = r.varint()
      case (2, 0) => endMs = r.varint()
      case (3, 2) => matchers += decodeMatcher(r.message())
      case _ => r.skip() // hints etc.
    }
    Query(startMs, endMs, matchers.toSeq)
  }

  private def decodeMatcher(r: Wire.Reader): Matcher = {
    var tpe = 0
    var name = ""
    var value = ""
    while (r.next()) (r.field, r.wireType) match {
      case (1, 0) => tpe = r.varint().toInt
      case (2, 2) => name = r.string()
      case (3, 2) => value = r.string()
      case _ => r.skip()
    }
    Matcher(tpe, name, value)
  }

  /** Encode a ReadResponse: one QueryResult per query, in request order. */
  def encodeResponse(results: Seq[Seq[Series]]): Array[Byte] = {
    val w = new Wire.Writer
    results.foreach { seriesList =>
      w.message(1)(qr => seriesList.foreach { s =>
        qr.message(1) { ts =>
          RemoteWrite.writeLabels(ts, s.labels.sortBy(_._1))
          s.samples.sortBy(_._1).foreach { case (t, v) =>
            RemoteWrite.writeSample(ts, t, v) }
        }
      })
    }
    w.toByteArray
  }

  /** Encode a ReadRequest — the CLIENT side, for tests and soak harnesses
    * (differential twin of [[encodeResponse]], like RemoteWrite.encode). */
  def encodeRequest(queries: Seq[Query],
      acceptedResponseTypes: Seq[Int] = Nil): Array[Byte] = {
    val w = new Wire.Writer
    queries.foreach { q =>
      w.message(1) { qb =>
        qb.varint(1, q.startMs).varint(2, q.endMs)
        q.matchers.foreach { m =>
          qb.message(3)(_.varint(1, m.tpe.toLong).string(2, m.name)
            .string(3, m.value))
        }
      }
    }
    if (acceptedResponseTypes.nonEmpty)
      w.packedVarints(2, acceptedResponseTypes.map(_.toLong))
    w.toByteArray
  }

  /** Decode a (snappy-framed or raw) ReadResponse — client side. */
  def decodeResponse(bytes: Array[Byte]): Seq[Seq[Series]] = {
    val results = mutable.ArrayBuffer.empty[Seq[Series]]
    val r = new Wire.Reader(RemoteWrite.unframe(bytes))
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => // QueryResult { repeated TimeSeries timeseries = 1; }
        val qr = r.message()
        val series = mutable.ArrayBuffer.empty[Series]
        while (qr.next()) (qr.field, qr.wireType) match {
          case (1, 2) => series += decodeSeries(qr.message(), chunked = false)
          case _ => qr.skip()
        }
        results += series.toSeq
      case _ => r.skip()
    }
    results.toSeq
  }

  /** A TimeSeries (`chunked = false`: samples at field 2) or a
    * ChunkedSeries (`chunked = true`: XOR chunks at field 2, expanded to
    * samples); both carry their labels at field 1. */
  private def decodeSeries(r: Wire.Reader, chunked: Boolean): Series = {
    val labels = mutable.ArrayBuffer.empty[(String, String)]
    val samples = mutable.ArrayBuffer.empty[(Long, Double)]
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => labels += RemoteWrite.readLabel(r.message())
      case (2, 2) if chunked => samples ++= decodeChunk(r.message())
      case (2, 2) => samples += RemoteWrite.readSample(r.message())
      case _ => r.skip()
    }
    Series(labels.toSeq, samples.toSeq)
  }

  private def decodeChunk(r: Wire.Reader): Seq[(Long, Double)] = {
    var enc = -1
    var data: Array[Byte] = Array.empty
    while (r.next()) (r.field, r.wireType) match {
      case (3, 0) => enc = r.varint().toInt
      case (4, 2) => data = r.bytes()
      case _ => r.skip()
    }
    if (enc != 1) sys.error(s"unsupported chunk encoding $enc")
    XorChunk.decode(data)
  }

  // ---- STREAMED_XOR_CHUNKS (response type 1) --------------------------

  /** prompb response-type ordinals. */
  val Samples = 0
  val StreamedXorChunks = 1

  /** Content type of the chunked stream (the exact string Prometheus's
    * remote-read client expects). */
  val ChunkedContentType =
    "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse"

  /** TSDB's chunk-size convention: cut a new XOR chunk every 120 samples
    * (≈2 h of 1-minute scrapes — the Gorilla paper's block size). */
  val MaxChunkSamples = 120

  private def crc32c(data: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32C
    c.update(data, 0, data.length)
    c.getValue.toInt
  }

  /** Wrap one marshaled ChunkedReadResponse into a stream frame:
    * uvarint(len) ++ 4-byte big-endian CRC32-Castagnoli ++ data. */
  def frame(data: Array[Byte]): Array[Byte] =
    new Wire.Writer().rawVarint(data.length.toLong)
      .raw(java.nio.ByteBuffer.allocate(4).putInt(crc32c(data)).array())
      .raw(data).toByteArray

  /** Drive a TRUE streaming chunked-read response (round 12): for each
    * query, in order, group its series_key-sorted row iterator into
    * series and hand each series' framed ChunkedReadResponse to `write`
    * AS the series completes — the next series' rows are not consumed
    * past their first row before the previous frame is written, so the
    * transport holds at most ONE series' samples, never the response
    * (Prometheus's own streamed remote-read shape; the round-11 server
    * buffered the full frame set before responding). `rows` must arrive
    * sorted by series_key; sample order within a series is restored by
    * [[seriesFromRows]]. */
  def streamChunked(
      queriesRows: Seq[Iterator[(String, Long, Double)]],
      parseKey: String => (String, Map[String, String]),
      write: Array[Byte] => Unit): Unit = {
    queriesRows.zipWithIndex.foreach { case (it, qi) =>
      val buf = mutable.ArrayBuffer.empty[(String, Long, Double)]
      def flush(): Unit = if (buf.nonEmpty) {
        write(frame(encodeChunkedFrame(
          seriesFromRows(buf.toSeq, parseKey), qi.toLong)))
        buf.clear()
      }
      it.foreach { r =>
        if (buf.nonEmpty && buf.head._1 != r._1) flush()
        buf += r
      }
      flush()
    }
  }

  /** Split a chunked-response byte stream back into frame payloads,
    * validating each CRC (client side / tests). */
  def unframeAll(stream: Array[Byte]): Seq[Array[Byte]] = {
    val out = mutable.ArrayBuffer.empty[Array[Byte]]
    val r = new Wire.Reader(stream)
    while (r.remaining > 0) {
      val at = stream.length - r.remaining
      val len = r.varint()
      if (len < 0 || len > r.remaining - 4L)
        sys.error(s"chunked frame overruns the stream at $at")
      val want = java.nio.ByteBuffer.wrap(r.raw(4)).getInt
      val data = r.raw(len.toInt)
      if (crc32c(data) != want)
        sys.error(s"chunked frame CRC mismatch at $at")
      out += data
    }
    out.toSeq
  }

  /** Marshal one ChunkedReadResponse: the series' samples cut into XOR
    * chunks of at most `maxChunkSamples`, stamped with their inclusive
    * time bounds. Prometheus streams one frame per series batch; the
    * serving edge calls this once per series. */
  def encodeChunkedFrame(series: Seq[Series], queryIndex: Long,
      maxChunkSamples: Int = MaxChunkSamples): Array[Byte] = {
    val w = new Wire.Writer
    series.foreach { s =>
      w.message(1) { cs =>
        RemoteWrite.writeLabels(cs, s.labels.sortBy(_._1))
        s.samples.sortBy(_._1).grouped(maxChunkSamples).foreach { slice =>
          cs.message(2)(_.varint(1, slice.head._1) // min_time_ms
            .varint(2, slice.last._1) // max_time_ms
            .varint(3, 1L) // Encoding.XOR
            .bytes(4, XorChunk.encode(slice)))
        }
      }
    }
    w.varint(2, queryIndex).toByteArray
  }

  /** Decode one ChunkedReadResponse frame payload back to
    * (queryIndex, series with XOR chunks expanded to samples) —
    * client side / tests. */
  def decodeChunkedFrame(bytes: Array[Byte]): (Long, Seq[Series]) = {
    var queryIndex = 0L
    val series = mutable.ArrayBuffer.empty[Series]
    val r = new Wire.Reader(bytes)
    while (r.next()) (r.field, r.wireType) match {
      case (1, 2) => series += decodeSeries(r.message(), chunked = true)
      case (2, 0) => queryIndex = r.varint()
      case _ => r.skip()
    }
    (queryIndex, series.toSeq)
  }
}
