package graft.streaming

/** Protobuf wire codec shared by every message [[RemoteWrite]],
  * [[RemoteRead]] and [[Otlp]] read or write — the JVM analog of the
  * reference's one remote-write reader (src/remote_write/src/pb_reader.rs).
  * The wire format is varints, fixed 64/32-bit words and
  * length-delimited records; no generated code and no protobuf runtime.
  *
  * A [[Wire.Reader]] walks ONE record, `[start, end)` of a buffer, and
  * holds three guards for hostile input (the HTTP edge decodes bodies
  * from the network):
  *  - record bounds: every read checks against the record's own `end`,
  *    so a nested record whose declared length runs past its parent's
  *    end, or a packed fixed64 run that is not a multiple of 8 bytes,
  *    throws instead of reading the next record's bytes;
  *  - unknown fields: [[Wire.Reader.skip]] steps over any field of a
  *    legal wire type, at every depth;
  *  - depth cap: [[Wire.Reader.message]] refuses nesting deeper than
  *    [[Wire.MaxDepth]], so recursive messages (OTLP `AnyValue`) end in a
  *    RuntimeException, never a StackOverflowError.
  *
  * Decoders loop `while (r.next()) (r.field, r.wireType) match { ... }`
  * and send every case they do not know to `r.skip()`.
  */
object Wire {

  /** protobuf-java's default recursion limit. */
  val MaxDepth = 100

  def zigzagDecode(v: Long): Long = (v >>> 1) ^ -(v & 1L)
  def zigzagEncode(v: Long): Long = (v << 1) ^ (v >> 63)

  /** Reader over the record `buf[start, end)` at nesting `depth`. */
  final class Reader(buf: Array[Byte], start: Int, val end: Int,
      depth: Int = 0) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length, 0)

    private[this] var pos = start

    /** Field number and wire type of the tag the last [[next]] read. A
      * tag whose field number does not fit an Int reads as field -1. */
    var field = 0
    var wireType = 0

    def remaining: Int = end - pos

    /** Read the next tag; false at the end of the record. */
    def next(): Boolean = pos < end && {
      val tag = varint()
      val f = tag >>> 3
      field = if (f > Int.MaxValue) -1 else f.toInt
      wireType = (tag & 7).toInt
      true
    }

    def varint(): Long = {
      var result = 0L
      var shift = 0
      val at = pos
      while ({
        // a legal varint is at most 10 bytes; unbounded continuation bits
        // must error, not shift into garbage
        if (shift > 63) sys.error(s"varint too long at $at")
        if (pos >= end) sys.error(s"truncated varint at $at (record ends at $end)")
        val x = buf(pos) & 0xff
        result |= (x & 0x7fL) << shift
        pos += 1
        shift += 7
        (x & 0x80) != 0
      }) ()
      result
    }

    def sint(): Long = zigzagDecode(varint())

    def fixed64(): Long = {
      need(8)
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (buf(pos + i) & 0xffL); i -= 1 }
      pos += 8
      v
    }

    def double(): Double = java.lang.Double.longBitsToDouble(fixed64())

    def bytes(): Array[Byte] = {
      val len = length()
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }

    def string(): String = {
      val len = length()
      val s = new String(buf, pos, len, java.nio.charset.StandardCharsets.UTF_8)
      pos += len
      s
    }

    /** `n` raw bytes — for framings that wrap protobuf, not protobuf
      * fields (the remote-read chunk stream's CRC and payload). */
    def raw(n: Int): Array[Byte] = {
      need(n)
      pos += n
      java.util.Arrays.copyOfRange(buf, pos - n, pos)
    }

    /** The length-delimited field under the cursor as a child reader
      * bounded by its own length, one level deeper; the parent moves past
      * it. */
    def message(): Reader = {
      if (depth >= MaxDepth)
        sys.error(s"protobuf nesting deeper than $MaxDepth at $pos")
      val len = length()
      pos += len
      new Reader(buf, pos - len, pos, depth + 1)
    }

    /** A repeated varint field in either encoding: packed (wire type 2)
      * or one element (wire type 0). Any other wire type is skipped. */
    def packedVarints(f: Long => Unit): Unit = wireType match {
      case 2 => val m = message(); while (m.remaining > 0) f(m.varint())
      case 0 => f(varint())
      case _ => skip()
    }

    /** A repeated fixed64 / double field in either encoding: packed
      * (wire type 2, a whole number of 8-byte words) or one element
      * (wire type 1). Any other wire type is skipped. */
    def packedFixed64(f: Long => Unit): Unit = wireType match {
      case 2 =>
        val m = message()
        if (m.remaining % 8 != 0)
          sys.error(s"packed fixed64 run of ${m.remaining} bytes at $pos")
        while (m.remaining > 0) f(m.fixed64())
      case 1 => f(fixed64())
      case _ => skip()
    }

    def packedDoubles(f: Double => Unit): Unit =
      packedFixed64(bits => f(java.lang.Double.longBitsToDouble(bits)))

    /** Step over the field whose tag [[next]] just read. */
    def skip(): Unit = wireType match {
      case 0 => varint(); ()
      case 1 => need(8); pos += 8
      case 2 => val len = length(); pos += len // length() itself moves pos
      case 5 => need(4); pos += 4
      case wt => sys.error(s"unsupported wire type $wt at $pos")
    }

    /** A validated length prefix: non-negative and inside this record.
      * Without the check a crafted length (e.g. 2^32-6) truncates to a
      * negative Int, the cursor lands back on its own tag, and the decode
      * loop spins forever with no exception for a per-payload catch. */
    private def length(): Int = {
      val at = pos
      val len = varint()
      if (len < 0L || len > (end - pos).toLong)
        sys.error(s"bad length-delimited field: len=$len at $at (record ends at $end)")
      len.toInt
    }

    private def need(n: Int): Unit =
      if (n < 0 || n > end - pos)
        sys.error(s"truncated field at $pos: $n bytes past the record end $end")
  }

  /** Growable protobuf writer. Nested records are written in place: the
    * tag and a one-byte length go first, and the body shifts right once
    * if its length needs a longer varint. */
  final class Writer {
    private[this] var buf = new Array[Byte](256)
    private[this] var n = 0

    def varint(field: Int, v: Long): Writer = { tag(field, 0); rawVarint(v) }

    def sint(field: Int, v: Long): Writer = varint(field, zigzagEncode(v))

    def fixed64(field: Int, v: Long): Writer = { tag(field, 1); rawFixed64(v) }

    def double(field: Int, d: Double): Writer = fixed64(field, rawBits(d))

    def bytes(field: Int, b: Array[Byte]): Writer = {
      tag(field, 2); rawVarint(b.length.toLong); raw(b)
    }

    def string(field: Int, s: String): Writer =
      bytes(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def packedVarints(field: Int, vs: Iterable[Long]): Writer =
      message(field)(w => vs.foreach(w.rawVarint))

    def packedFixed64(field: Int, vs: Iterable[Long]): Writer =
      message(field)(w => vs.foreach(w.rawFixed64))

    def packedDoubles(field: Int, vs: Iterable[Double]): Writer =
      message(field)(w => vs.foreach(d => w.rawFixed64(rawBits(d))))

    def message(field: Int)(body: Writer => Unit): Writer = {
      tag(field, 2)
      val lenPos = n
      ensure(1); n += 1
      body(this)
      val len = n - lenPos - 1
      val width = varintSize(len.toLong)
      if (width > 1) {
        ensure(width - 1)
        System.arraycopy(buf, lenPos + 1, buf, lenPos + width, len)
        n += width - 1
      }
      val end = n
      n = lenPos
      rawVarint(len.toLong)
      n = end
      this
    }

    def rawVarint(value: Long): Writer = {
      ensure(10)
      var v = value
      while ((v & ~0x7fL) != 0L) {
        buf(n) = ((v & 0x7f) | 0x80).toByte; n += 1; v >>>= 7
      }
      buf(n) = v.toByte; n += 1
      this
    }

    def raw(b: Array[Byte]): Writer = {
      ensure(b.length)
      System.arraycopy(b, 0, buf, n, b.length)
      n += b.length
      this
    }

    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)

    private def tag(field: Int, wireType: Int): Unit =
      rawVarint(((field << 3) | wireType).toLong)

    private def rawFixed64(v: Long): Writer = {
      ensure(8)
      var i = 0
      while (i < 8) { buf(n + i) = (v >>> (8 * i)).toByte; i += 1 }
      n += 8
      this
    }

    // RAW bits: doubleToLongBits canonicalizes every NaN payload, which
    // destroys Prometheus staleness markers (IsStaleNaN is a BIT-equality
    // check on 0x7ff0000000000002) in remote-read SAMPLES responses —
    // and would make the SAMPLES and XOR-chunked paths return different
    // bytes for the same stored data (XorChunk already writes raw bits).
    private def rawBits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

    private def varintSize(v: Long): Int = {
      var size = 1
      var x = v >>> 7
      while (x != 0L) { size += 1; x >>>= 7 }
      size
    }

    private def ensure(extra: Int): Unit =
      if (n + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + extra))
  }
}
