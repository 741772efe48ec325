package graft.chunk

import java.nio.ByteBuffer

/** Delta-of-delta timestamp + Gorilla XOR value chunk codec, after the
  * Gorilla paper (Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory
  * Time Series Database", VLDB 2015) — public knowledge; the reference has
  * no compression (it is a north-rule addition, see SURVEY.md §2.10).
  *
  * Timestamps are epoch MICROseconds, so the paper's second-scale zone
  * widths are widened: dod == 0 -> '0'; else zones
  * '10'+14b, '110'+24b, '1110'+32b (zigzag), '1111'+64b raw.
  * Values: '0' = same as previous; '10' = XOR fits the previous
  * leading/meaningful window; '11' + 6b leading + 6b (meaningful-1) + bits.
  *
  * Pure deterministic Scala on per-chunk arrays — invoked from typed
  * aggregations over already-grouped data (never row-at-a-time), so the
  * distributed plan stays columnar and the codec cost is one pass per chunk.
  * Round-trip is byte-exact for any (Long, Double) sequence including NaN
  * and nulls (nulls are carried in a presence bitmap prefix).
  */
object Gorilla {

  private final class BitWriter(initial: Int = 256) {
    private var buf = new Array[Byte](initial)
    private var bitPos = 0
    private def ensure(nBits: Int): Unit = {
      val needBytes = (bitPos + nBits + 7) / 8
      if (needBytes > buf.length) {
        val n = new Array[Byte](math.max(buf.length * 2, needBytes))
        System.arraycopy(buf, 0, n, 0, buf.length)
        buf = n
      }
    }
    def writeBit(b: Int): Unit = {
      ensure(1)
      if (b != 0) buf(bitPos >> 3) = (buf(bitPos >> 3) | (0x80 >>> (bitPos & 7))).toByte
      bitPos += 1
    }
    def writeBits(value: Long, n: Int): Unit = {
      ensure(n)
      var i = n - 1
      while (i >= 0) { writeBit(((value >>> i) & 1L).toInt); i -= 1 }
    }
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, (bitPos + 7) / 8)
  }

  private final class BitReader(bytes: Array[Byte], startBit: Int) {
    private var bitPos = startBit
    def readBit(): Int = {
      val b = (bytes(bitPos >> 3) >>> (7 - (bitPos & 7))) & 1
      bitPos += 1
      b
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  /** Encode parallel arrays (sorted by t); vs(i) may be null. */
  def encode(ts: Array[Long], vs: Array[java.lang.Double]): Array[Byte] = {
    val n = ts.length
    require(vs.length == n, "parallel arrays required")
    val w = new BitWriter(16 + n * 2)
    w.writeBits(n.toLong, 32)
    if (n == 0) return w.toBytes
    // null-presence bitmap (1 = present)
    var i = 0
    while (i < n) { w.writeBit(if (vs(i) == null) 0 else 1); i += 1 }

    // --- timestamps: first raw, then delta, then delta-of-delta
    w.writeBits(ts(0), 64)
    var prevT = ts(0)
    var prevDelta = 0L
    i = 1
    while (i < n) {
      val delta = ts(i) - prevT
      val dod = delta - prevDelta
      if (dod == 0L) w.writeBit(0)
      else {
        val z = zigzag(dod)
        if (z < (1L << 14)) { w.writeBits(2L, 2); w.writeBits(z, 14) }
        else if (z < (1L << 24)) { w.writeBits(6L, 3); w.writeBits(z, 24) }
        else if (z < (1L << 32)) { w.writeBits(14L, 4); w.writeBits(z, 32) }
        else { w.writeBits(15L, 4); w.writeBits(dod, 64) }
      }
      prevT = ts(i)
      prevDelta = delta
      i += 1
    }

    // --- values: Gorilla XOR over the present values only
    var prevBits = 0L
    var first = true
    var prevLead = -1
    var prevMeaningful = -1
    i = 0
    while (i < n) {
      if (vs(i) != null) {
        val bits = java.lang.Double.doubleToRawLongBits(vs(i))
        if (first) { w.writeBits(bits, 64); first = false }
        else {
          val x = bits ^ prevBits
          if (x == 0L) w.writeBit(0)
          else {
            val lead0 = math.min(java.lang.Long.numberOfLeadingZeros(x), 31)
            val trail = java.lang.Long.numberOfTrailingZeros(x)
            val meaningful = 64 - lead0 - trail
            val prevTrail = 64 - prevLead - prevMeaningful
            if (prevLead >= 0 && lead0 >= prevLead && trail >= prevTrail) {
              // fits previous window: '10' + meaningful bits of that window
              w.writeBits(2L, 2)
              w.writeBits(x >>> prevTrail, prevMeaningful)
            } else {
              w.writeBits(3L, 2)
              w.writeBits(lead0.toLong, 6)
              w.writeBits((meaningful - 1).toLong, 6)
              w.writeBits(x >>> trail, meaningful)
              prevLead = lead0
              prevMeaningful = meaningful
            }
          }
        }
        prevBits = bits
      }
      i += 1
    }
    w.toBytes
  }

  /** Decode back to parallel arrays; inverse of [[encode]]. */
  def decode(bytes: Array[Byte]): (Array[Long], Array[java.lang.Double]) = {
    val r = new BitReader(bytes, 0)
    val n = r.readBits(32).toInt
    val ts = new Array[Long](n)
    val vs = new Array[java.lang.Double](n)
    if (n == 0) return (ts, vs)
    val present = new Array[Boolean](n)
    var i = 0
    while (i < n) { present(i) = r.readBit() == 1; i += 1 }

    ts(0) = r.readBits(64)
    var prevT = ts(0)
    var prevDelta = 0L
    i = 1
    while (i < n) {
      val dod =
        if (r.readBit() == 0) 0L
        else if (r.readBit() == 0) unzigzag(r.readBits(14))
        else if (r.readBit() == 0) unzigzag(r.readBits(24))
        else if (r.readBit() == 0) unzigzag(r.readBits(32))
        else r.readBits(64)
      val delta = prevDelta + dod
      prevT += delta
      ts(i) = prevT
      prevDelta = delta
      i += 1
    }

    var prevBits = 0L
    var first = true
    var lead = 0
    var meaningful = 0
    i = 0
    while (i < n) {
      if (present(i)) {
        if (first) { prevBits = r.readBits(64); first = false }
        else {
          if (r.readBit() == 1) {
            if (r.readBit() == 0) {
              // reuse previous window
              val x = r.readBits(meaningful) << (64 - lead - meaningful)
              prevBits = prevBits ^ x
            } else {
              lead = r.readBits(6).toInt
              meaningful = r.readBits(6).toInt + 1
              val x = r.readBits(meaningful) << (64 - lead - meaningful)
              prevBits = prevBits ^ x
            }
          }
        }
        vs(i) = java.lang.Double.longBitsToDouble(prevBits)
      }
      i += 1
    }
    (ts, vs)
  }
}
