package graft.sources

/** Deletion-vector decode per the PUBLIC Delta protocol (Deletion
  * Vectors, `PROTOCOL.md`): a DV descriptor on an add/file action
  * names a serialized 64-bit roaring bitmap of DELETED row indexes
  * within that data file. This module implements the wire pieces a
  * sharing CLIENT needs to turn a DV-bearing table from refused to
  * readable:
  *
  *  - Z85 (ZeroMQ base-85) decode of inline descriptors — Delta pads
  *    the payload to a 4-byte multiple before encoding, so decode
  *    truncates back to the descriptor's `sizeInBytes`;
  *  - the `RoaringBitmapArray` "portable" format: magic `1681511377`
  *    (int32 LE), bitmap count (int64 LE — the ARRAY length, i.e.
  *    max key + 1, empty slots included), then per NON-EMPTY bitmap:
  *    its key (int32 LE, the high-32 index, strictly ascending) and
  *    one STANDARD 32-bit roaring bitmap (RoaringFormatSpec: cookie
  *    12346/12347, array / bitmap / run containers, little-endian).
  *    Empty bitmaps are SKIPPED on the wire — the key, not the entry
  *    ordinal, addresses the high-32 slot;
  *  - the on-disk DV file framing for URL-addressed descriptors:
  *    1-byte version, then per DV `[size int32 BE][data][crc32 BE]`
  *    at the descriptor's `offset`.
  *
  * A tiny serializer (cookie 12346, array/bitmap containers) exists
  * so the stub server and tests can author real DVs; round-trip is
  * property-tested.
  *
  * Scale shape: descriptors ship to executors inside the
  * InputPartition (a few hundred bytes); each task fetches + decodes
  * only ITS file's bitmap (inline: no I/O at all), and application is
  * a merge-walk against the file's in-order row stream — no shuffle,
  * no driver-side materialization of positions.
  *
  * The reference client cannot do any of this: it forces
  * `responseformat=parquet` (`delta_sharing_client.cpp:124`) and
  * would silently return deleted rows; the refusal guard for
  * descriptors this decoder does NOT support (relative-path `u`
  * storage needs a table root a sharing client never has) stays in
  * [[DeltaSharingClient]]. */
object DeletionVectors {

  /** DV descriptor as it appears on a file/add action. */
  final case class Descriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Long,
      sizeInBytes: Long,
      cardinality: Long) {
    /** Can this client materialize the deleted positions? */
    def supported: Boolean =
      storageType == "i" || storageType == "p"
  }

  // ---- Z85 ----------------------------------------------------------

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Inverse: Array[Int] = {
    val inv = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => inv(c.toInt) = i }
    inv
  }

  /** Z85-decode to exactly `n` bytes (the encoder zero-pads the tail
    * group; `n` from the descriptor's sizeInBytes strips it). */
  def z85Decode(s: String, n: Int): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 length ${s.length} not a multiple of 5")
    val full = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var acc = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val v = if (c < 128) Z85Inverse(c.toInt) else -1
        require(v >= 0, s"invalid Z85 character '$c'")
        acc = acc * 85 + v
        j += 1
      }
      full(o) = (acc >>> 24).toByte
      full(o + 1) = (acc >>> 16).toByte
      full(o + 2) = (acc >>> 8).toByte
      full(o + 3) = acc.toByte
      i += 5
      o += 4
    }
    require(n <= full.length, s"Z85 payload ${full.length} < declared $n")
    if (n == full.length) full else java.util.Arrays.copyOf(full, n)
  }

  /** Z85-encode, zero-padding to a 4-byte multiple (the Delta
    * convention — pair with the true length in `sizeInBytes`). */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else java.util.Arrays.copyOf(bytes, (bytes.length / 4 + 1) * 4)
    val sb = new StringBuilder(padded.length / 4 * 5)
    var i = 0
    while (i < padded.length) {
      var acc = 0L
      var j = 0
      while (j < 4) { acc = (acc << 8) | (padded(i + j) & 0xffL); j += 1 }
      val out = new Array[Char](5)
      var k = 4
      while (k >= 0) { out(k) = Z85Alphabet((acc % 85).toInt); acc /= 85; k -= 1 }
      sb.appendAll(out)
      i += 4
    }
    sb.toString
  }

  // ---- RoaringBitmapArray (portable) --------------------------------

  private val Magic = 1681511377
  private val SerialCookie = 12347
  private val SerialCookieNoRun = 12346
  private val NoOffsetThreshold = 4

  /** Deserialize portable RoaringBitmapArray bytes → ASCENDING sorted
    * 64-bit deleted row indexes. */
  def deserialize(data: Array[Byte]): Array[Long] = {
    val buf = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt
    require(magic == Magic,
      s"bad RoaringBitmapArray magic $magic (expected $Magic)")
    val nBitmaps = buf.getLong
    require(nBitmaps >= 0 && nBitmaps <= Int.MaxValue,
      s"unreasonable bitmap count $nBitmaps")
    val out = Array.newBuilder[Long]
    // non-empty bitmaps only, each prefixed by its int32 LE key; the
    // count above is the array LENGTH (max key + 1), so entries run
    // until the payload is exhausted, not `count` times
    var lastKey = -1L
    while (buf.hasRemaining) {
      val key = buf.getInt.toLong
      require(key >= 0 && key < nBitmaps,
        s"roaring bitmap key $key outside [0, $nBitmaps)")
      require(key > lastKey,
        s"roaring bitmap keys must be strictly ascending ($key after $lastKey)")
      lastKey = key
      val high = key << 32
      readRoaring32(buf, v => out += (high | (v & 0xffffffffL)))
    }
    out.result() // ascending: bitmaps by key, containers by key, values in order
  }

  /** One standard 32-bit roaring bitmap, per RoaringFormatSpec. */
  private def readRoaring32(buf: java.nio.ByteBuffer,
      emit: Int => Unit): Unit = {
    val cookie = buf.getInt
    val hasRun = (cookie & 0xffff) == SerialCookie
    val n =
      if (hasRun) (cookie >>> 16) + 1
      else {
        require(cookie == SerialCookieNoRun, s"bad roaring cookie $cookie")
        buf.getInt
      }
    val runFlags: Array[Byte] =
      if (hasRun) { val f = new Array[Byte]((n + 7) / 8); buf.get(f); f }
      else null
    def isRun(i: Int): Boolean =
      runFlags != null && (runFlags(i / 8) & (1 << (i % 8))) != 0
    val keys = new Array[Int](n)
    val cards = new Array[Int](n)
    var i = 0
    while (i < n) {
      keys(i) = buf.getShort & 0xffff
      cards(i) = (buf.getShort & 0xffff) + 1
      i += 1
    }
    if (!hasRun || n >= NoOffsetThreshold) buf.position(buf.position() + 4 * n)
    i = 0
    while (i < n) {
      val base = keys(i) << 16
      if (isRun(i)) {
        val nRuns = buf.getShort & 0xffff
        var r = 0
        while (r < nRuns) {
          val start = buf.getShort & 0xffff
          val len = buf.getShort & 0xffff
          var v = start
          while (v <= start + len) { emit(base | v); v += 1 }
          r += 1
        }
      } else if (cards(i) > 4096) {
        var w = 0
        while (w < 1024) {
          val word = buf.getLong
          if (word != 0L) {
            var b = 0
            while (b < 64) {
              if ((word & (1L << b)) != 0L) emit(base | (w * 64 + b))
              b += 1
            }
          }
          w += 1
        }
      } else {
        var c = 0
        while (c < cards(i)) { emit(base | (buf.getShort & 0xffff)); c += 1 }
      }
      i += 1
    }
  }

  /** Serialize ascending 64-bit positions as a portable
    * RoaringBitmapArray (count = max key + 1; per NON-EMPTY bitmap an
    * int32 LE key then cookie 12346 with array containers ≤4096 and
    * bitmap containers above — no run encoding; readers must accept
    * both per the spec). Stub/test authoring side of [[deserialize]]. */
  def serialize(positions: Seq[Long]): Array[Byte] = {
    require(positions == positions.sorted, "positions must be ascending")
    require(positions.forall(_ >= 0), "positions must be non-negative")
    val byHigh = positions.groupBy(p => p >>> 32)
    val nBitmaps = if (positions.isEmpty) 0L else (positions.max >>> 32) + 1
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def i32le(v: Int): Unit = { out.writeInt(Integer.reverseBytes(v)) }
    def i16le(v: Int): Unit = { out.writeShort(java.lang.Short.reverseBytes(v.toShort).toInt) }
    def i64le(v: Long): Unit = { out.writeLong(java.lang.Long.reverseBytes(v)) }
    i32le(Magic)
    i64le(nBitmaps)
    byHigh.toSeq.sortBy(_._1).foreach { case (high, ps) =>
      val vals = ps.map(p => (p & 0xffffffffL).toInt)
      val byKey = vals.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
      i32le(high.toInt) // bitmap key — empty slots are skipped entirely
      i32le(SerialCookieNoRun)
      i32le(byKey.size)
      byKey.foreach { case (key, vs) =>
        i16le(key); i16le(vs.size - 1)
      }
      // offset header (required for cookie 12346): byte offsets of
      // each container from the start of THIS bitmap's serialization
      var off = 4 + 4 + 4 * byKey.size + 4 * byKey.size
      byKey.foreach { case (_, vs) =>
        i32le(off)
        off += (if (vs.size > 4096) 8192 else 2 * vs.size)
      }
      byKey.foreach { case (_, vs) =>
        if (vs.size > 4096) {
          val words = new Array[Long](1024)
          vs.foreach { v =>
            val low = v & 0xffff
            words(low / 64) |= 1L << (low % 64)
          }
          words.foreach(i64le)
        } else vs.sorted.foreach(v => i16le(v & 0xffff))
      }
    }
    out.flush()
    bos.toByteArray
  }

  // ---- fetch + decode ----------------------------------------------

  /** Materialize a supported descriptor into ascending deleted row
    * indexes. `i` decodes inline; `p` reads the absolute URL's DV file
    * (`[version 1][… size int32 BE, data, crc …]`) through
    * [[HttpTransport]] with bounded GETs counted in the reading task's
    * presigned counters: the descriptor's bytes `[offset, offset + 4 +
    * sizeInBytes)`, and the version byte, which rides the same GET when
    * the gap to it is one a vectored read would merge and costs its own
    * one-byte GET otherwise — so a DV file holding many descriptors is
    * never re-read from byte 0 for each. Writers differ on whether
    * `offset` points at the size prefix or the data, so both framings
    * are accepted when unambiguous. */
  def positions(dv: Descriptor): Array[Long] = dv.storageType match {
    case "i" =>
      deserialize(z85Decode(dv.pathOrInlineDv, dv.sizeInBytes.toInt))
    case "p" =>
      val off = dv.offset.toInt
      val size = dv.sizeInBytes.toInt
      val counters = PresignedReadCounters.onThisThread
      // bytes [from, until) of the DV file; a 200 is a server that
      // ignored Range and sends the whole file
      def get(from: Int, until: Int): Array[Byte] = {
        val got = HttpTransport.request(() => dv.pathOrInlineDv,
            headers = Seq("Range" -> s"bytes=$from-${until - 1}"),
            counters = Some(counters)) { resp =>
          if (resp.status == 200) resp.body.skipNBytes(from)
          resp.body.readNBytes(until - from)
        }
        counters.bytes.addAndGet(got.length)
        got
      }
      val start = if (off <= HttpRangeInputStream.MergeGapBytes) 0 else off
      val bytes = get(start, off + 4 + size)
      val version = (if (start == 0) bytes else get(0, 1)).headOption
      require(version.contains(1.toByte),
        s"unsupported DV file version ${version.getOrElse("<empty>")}")
      def i32be(at: Int): Int =
        ((bytes(at) & 0xff) << 24) | ((bytes(at + 1) & 0xff) << 16) |
          ((bytes(at + 2) & 0xff) << 8) | (bytes(at + 3) & 0xff)
      // magic directly at offset → data starts there; otherwise the
      // int32 BE size prefix sits at offset and data follows
      val at = off - start
      val dataAt =
        if (at + 4 <= bytes.length &&
          java.lang.Integer.reverseBytes(i32be(at)) == Magic) at
        else {
          require(at + 4 + size <= bytes.length && i32be(at) == size,
            s"DV framing mismatch at offset $off (declared $size bytes)")
          at + 4
        }
      deserialize(java.util.Arrays.copyOfRange(bytes, dataAt, dataAt + size))
    case other =>
      throw new DeltaSharingException(0,
        s"deletion vector storageType '$other' is not readable by this " +
          "client")
  }
}
