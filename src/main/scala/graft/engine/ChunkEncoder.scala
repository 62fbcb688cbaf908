package graft.engine

import graft.codec._
import graft.format.{ColZone, CompressedPart}

/** Per-chunk column encoders: one typed column chunk → one CompressedPart.
  * Pure per-task logic (no Spark classes) so it runs identically inside
  * mapPartitions and in unit tests — the Spark analog of the reference's
  * in-memory Datablock::compress (/root/reference/src/btrblocks.rs:299-326).
  */
object ChunkEncoder {

  /** Null bookkeeping for one encoded chunk: word bitmap → byte bitmap
    * (bit i set = row i NULL; null when the chunk has no nulls). Nulls
    * store a placeholder in the value blob (0 / 0.0 / "") — cheap under
    * every codec — and are masked back to NULL on decode.
    */
  private def bitmapBytes(nullWords: Array[Long], nullCount: Int, len: Int): Array[Byte] =
    if (nullCount == 0) null
    else {
      val b = new Array[Byte]((len + 7) >> 3)
      var i = 0
      while (i < b.length) {
        b(i) = (nullWords(i >> 3) >>> ((i & 7) << 3)).toByte
        i += 1
      }
      b
    }

  @inline private def isNull(nullWords: Array[Long], i: Int): Boolean =
    nullWords != null && ((nullWords(i >> 6) >>> (i & 63)) & 1L) == 1L

  def encodeInt(
      colName: String,
      v: Array[Int], len: Int, cfg: BtrConfig,
      nullWords: Array[Long] = null, nullCount: Int = 0): CompressedPart = {
    val out = new BufWriter(len * 2 + 64)
    IntCodec.encode(out, v, 0, len, cfg.maxCascadeDepth, cfg)
    val bytes = out.result()
    // zone extrema + sum over NON-NULL values only (null rows hold
    // placeholders); the i64 sum is exact (<= 2^16 rows x 32-bit values)
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var sm = 0L
    var i = 0
    while (i < len) {
      if (!isNull(nullWords, i)) {
        if (v(i) < mn) mn = v(i)
        if (v(i) > mx) mx = v(i)
        sm += v(i)
      }
      i += 1
    }
    val zone =
      if (nullCount < len && len > 0) ColZone(1, mn, mx, nullCount = nullCount, rows = len, sum = sm)
      else ColZone(0, nullCount = nullCount, rows = len)
    CompressedPart(
      len, colName, ColType.Integer,
      IntCodec.describe(new BufReader(bytes)), 4L * len, bytes,
      zone, bitmapBytes(nullWords, nullCount, len))
  }

  def encodeDouble(
      colName: String,
      v: Array[Double], len: Int, cfg: BtrConfig,
      nullWords: Array[Long] = null, nullCount: Int = 0): CompressedPart = {
    val out = new BufWriter(len * 4 + 64)
    DoubleCodec.encode(out, v, 0, len, cfg.maxCascadeDepth, cfg)
    val bytes = out.result()
    // total-order extrema (java.lang.Double.compare): IEEE < treats
    // -0.0 == 0.0, which would store a zone min of 0.0 for a chunk holding
    // -0.0 — pruning wouldn't care (they compare equal) but the MIN/MAX
    // aggregate pushdown reads zones as exact under Spark's total order,
    // where -0.0 < 0.0. Non-null values only.
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var sm = 0.0
    var sawNaN = false
    var i = 0
    while (i < len) {
      if (!isNull(nullWords, i)) {
        val x = v(i)
        if (x.isNaN) sawNaN = true
        else {
          if (java.lang.Double.compare(x, mn) < 0) mn = x
          if (java.lang.Double.compare(x, mx) > 0) mx = x
          sm += x
        }
      }
      i += 1
    }
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val zone =
      if (len > 0 && !sawNaN && nullCount < len && mn <= mx)
        ColZone(2, bits(mn), bits(mx), nullCount = nullCount, rows = len, sum = bits(sm))
      else ColZone(0, nullCount = nullCount, rows = len)
    CompressedPart(
      len, colName, ColType.Double,
      DoubleCodec.describe(new BufReader(bytes)), 8L * len, bytes,
      zone, bitmapBytes(nullWords, nullCount, len))
  }

  /** String chunk encode through StringCodec.encodeSlices, with the
    * chunk's zone extrema.
    */
  def encodeStringSlices(
      colName: String,
      s: StrSlices, cfg: BtrConfig,
      nullWords: Array[Long] = null, nullCount: Int = 0): CompressedPart = {
    val len = s.count
    val raw = s.totalBytes
    val out = new BufWriter(math.min(raw, Int.MaxValue / 2).toInt / 2 + 256)
    StringCodec.encodeSlices(out, s, cfg.maxCascadeDepth, cfg)
    val bytes = out.result()
    var mn = -1
    var mx = -1
    var i = 0
    while (i < len) {
      if (!isNull(nullWords, i)) {
        if (mn < 0 || s.sliceCompare(i, mn) < 0) mn = i
        if (mx < 0 || s.sliceCompare(i, mx) > 0) mx = i
      }
      i += 1
    }
    // extrema stay bytes (unsigned order, valid UTF-8 or not); longer
    // than 64 bytes they are dropped, not truncated
    val zone =
      if (mn >= 0 && s.len(mn) <= 64 && s.len(mx) <= 64)
        ColZone(3, smin = s.copy(mn), smax = s.copy(mx), nullCount = nullCount, rows = len)
      else ColZone(0, nullCount = nullCount, rows = len)
    CompressedPart(
      len, colName, ColType.String,
      StringCodec.describeBlock(bytes), raw, bytes,
      zone, bitmapBytes(nullWords, nullCount, len))
  }
}
