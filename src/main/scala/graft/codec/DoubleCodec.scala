package graft.codec

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}

/** Double (f64) scheme family per the public BtrBlocks paper; the reference
  * invokes these behind its FFI (/root/reference/src/ffi.rs:66-67,
  * compress_column_f64). All equality is raw-bits equality so NaN payloads
  * and -0.0 round-trip bit-identically (the north-rule invariant).
  *
  * Block layout: [tag:u8][count:i32][payload]; sub-streams cascade.
  */
object DoubleCodec {
  final val TagUncompressed = 0
  final val TagOneValue = 1
  final val TagRle = 2
  final val TagDict = 3
  final val TagFreq = 4
  final val TagDecimal = 5 // pseudodecimal: value == digits / 10^exp

  def schemeName(tag: Int): String = tag match {
    case TagUncompressed => "Uncompressed"
    case TagOneValue     => "OneValue"
    case TagRle          => "RLE"
    case TagDict         => "Dict"
    case TagFreq         => "Frequency"
    case TagDecimal      => "Pseudodecimal"
  }

  private val Pow10: Array[Double] = Array.tabulate(19)(i => math.pow(10.0, i))
  private final val ExcExp = 18 // exponent marker for non-representable values

  def encode(out: BufWriter, v: Array[Double], off: Int, len: Int, depth: Int, cfg: BtrConfig): Int = {
    val tag = select(v, off, len, depth, cfg)
    encodeWith(tag, out, v, off, len, depth, cfg)
    tag
  }

  def encode(v: Array[Double], cfg: BtrConfig = BtrConfig.default): Array[Byte] = {
    val out = new BufWriter(v.length * 4 + 64)
    encode(out, v, 0, v.length, cfg.maxCascadeDepth, cfg)
    out.result()
  }

  def decode(arr: Array[Byte]): Array[Double] = decode(new BufReader(arr))

  // ---------------------------------------------------------------- select

  def select(v: Array[Double], off: Int, len: Int, depth: Int, cfg: BtrConfig): Int = {
    if (len == 0) return TagUncompressed
    if (isConstant(v, off, len)) return TagOneValue
    if (depth <= 0) return TagUncompressed
    val (soff, slen, sample) = Sampling.sampleDoubles(v, off, len)
    var bestTag = TagUncompressed
    var bestSize = Int.MaxValue
    val candidates = Array(TagUncompressed, TagRle, TagDict, TagFreq, TagDecimal)
    var i = 0
    while (i < candidates.length) {
      val t = candidates(i)
      val w = new BufWriter(slen * 8 + 64)
      encodeWith(t, w, sample, soff, slen, depth, cfg)
      if (w.size < bestSize) { bestSize = w.size; bestTag = t }
      i += 1
    }
    bestTag
  }

  private def bitsEq(a: Double, b: Double): Boolean =
    doubleToRawLongBits(a) == doubleToRawLongBits(b)

  private def isConstant(v: Array[Double], off: Int, len: Int): Boolean = {
    var i = 1
    val b0 = doubleToRawLongBits(v(off))
    while (i < len) { if (doubleToRawLongBits(v(off + i)) != b0) return false; i += 1 }
    true
  }

  // ---------------------------------------------------------------- encode

  def encodeWith(tag: Int, out: BufWriter, v: Array[Double], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    out.u8(tag)
    out.i32(len)
    tag match {
      case TagUncompressed =>
        var i = 0
        while (i < len) { out.f64(v(off + i)); i += 1 }
      case TagOneValue => out.f64(if (len > 0) v(off) else 0.0)
      case TagRle      => encRle(out, v, off, len, depth, cfg)
      case TagDict     => encDict(out, v, off, len, depth, cfg)
      case TagFreq     => encFreq(out, v, off, len, depth, cfg)
      case TagDecimal  => encDecimal(out, v, off, len, depth, cfg)
    }
  }

  private def encRle(out: BufWriter, v: Array[Double], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    // count runs (raw-bits equality)
    var nRuns = 0
    var i = 0
    while (i < len) {
      val b = doubleToRawLongBits(v(off + i))
      i += 1
      while (i < len && doubleToRawLongBits(v(off + i)) == b) i += 1
      nRuns += 1
    }
    val values = new Array[Double](nRuns)
    val runs = new Array[Int](nRuns)
    i = 0
    var r = 0
    while (i < len) {
      val start = i
      val b = doubleToRawLongBits(v(off + i))
      i += 1
      while (i < len && doubleToRawLongBits(v(off + i)) == b) i += 1
      values(r) = v(off + start); runs(r) = i - start; r += 1
    }
    encode(out, values, 0, nRuns, depth - 1, cfg)
    IntCodec.encode(out, runs, 0, nRuns, depth - 1, cfg)
  }

  private def encDict(out: BufWriter, v: Array[Double], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    // dict sorted by raw bits (deterministic, NaN-safe)
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < len) { set.add(doubleToRawLongBits(v(off + i))); i += 1 }
    val bits = new Array[Long](set.size())
    val it = set.iterator()
    i = 0
    while (it.hasNext) { bits(i) = it.next(); i += 1 }
    val dict = new Array[Double](bits.length)
    i = 0
    while (i < bits.length) { dict(i) = longBitsToDouble(bits(i)); i += 1 }
    val codes = new Array[Int](len)
    i = 0
    while (i < len) { codes(i) = java.util.Arrays.binarySearch(bits, doubleToRawLongBits(v(off + i))); i += 1 }
    encode(out, dict, 0, dict.length, depth - 1, cfg)
    IntCodec.encode(out, codes, 0, len, depth - 1, cfg)
  }

  private def encFreq(out: BufWriter, v: Array[Double], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    val counts = new java.util.HashMap[java.lang.Long, Integer]()
    var i = 0
    while (i < len) { counts.merge(doubleToRawLongBits(v(off + i)), 1, (a, b) => a + b); i += 1 }
    var topBits = doubleToRawLongBits(v(off)); var topN = -1
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > topN || (e.getValue == topN && e.getKey < topBits)) { topBits = e.getKey; topN = e.getValue }
    }
    var nExc = 0
    i = 0
    while (i < len) { if (doubleToRawLongBits(v(off + i)) != topBits) nExc += 1; i += 1 }
    val pos = new Array[Int](nExc)
    val exc = new Array[Double](nExc)
    var j = 0
    i = 0
    while (i < len) {
      if (doubleToRawLongBits(v(off + i)) != topBits) { pos(j) = i; exc(j) = v(off + i); j += 1 }
      i += 1
    }
    out.i64(topBits)
    IntCodec.encode(out, pos, 0, nExc, depth - 1, cfg)
    encode(out, exc, 0, nExc, depth - 1, cfg)
  }

  /** Pseudodecimal (BtrBlocks paper §3): d = digits / 10^exp with digits
    * fitting in i32; non-representable values (NaN, ±inf, -0.0, >9 sig
    * digits...) become patches. Decode recomputes digits.toDouble / 10^exp —
    * the exact expression verified at encode time, so bit-identity holds.
    */
  private def encDecimal(out: BufWriter, v: Array[Double], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    val exps = new Array[Int](len)
    val digs = new Array[Int](len)
    var nExc = 0
    var lastExp = 2 // columns are homogeneous (prices etc); try last hit first
    var i = 0
    while (i < len) {
      val d = v(off + i)
      var found = false
      @inline def tryExp(e: Int): Boolean = {
        val scaled = d * Pow10(e)
        if (scaled >= Int.MinValue.toDouble && scaled <= Int.MaxValue.toDouble) {
          val r = Math.rint(scaled)
          if (r == scaled && bitsEq(r.toInt.toDouble / Pow10(e), d)) {
            exps(i) = e; digs(i) = r.toInt
            return true
          }
        }
        false
      }
      if (tryExp(lastExp)) found = true
      else {
        var e = 0
        while (!found && e <= 17) {
          if (e != lastExp && tryExp(e)) { found = true; lastExp = e }
          e += 1
        }
      }
      if (!found) { exps(i) = ExcExp; digs(i) = 0; nExc += 1 }
      i += 1
    }
    val exc = new Array[Double](nExc)
    var j = 0
    i = 0
    while (i < len) { if (exps(i) == ExcExp) { exc(j) = v(off + i); j += 1 }; i += 1 }
    IntCodec.encode(out, exps, 0, len, depth - 1, cfg)
    IntCodec.encode(out, digs, 0, len, depth - 1, cfg)
    encode(out, exc, 0, nExc, depth - 1, cfg)
  }

  // ---------------------------------------------------------------- decode

  def decode(in: BufReader): Array[Double] = {
    val tag = in.u8()
    val len = in.i32()
    val out = new Array[Double](len)
    tag match {
      case TagUncompressed =>
        var i = 0
        while (i < len) { out(i) = in.f64(); i += 1 }
      case TagOneValue =>
        val x = in.f64()
        java.util.Arrays.fill(out, x)
      case TagRle =>
        val values = decode(in)
        val runs = IntCodec.decode(in)
        var i = 0; var o = 0
        while (i < values.length) {
          java.util.Arrays.fill(out, o, o + runs(i), values(i))
          o += runs(i); i += 1
        }
      case TagDict =>
        val dict = decode(in)
        val codes = IntCodec.decode(in)
        var i = 0
        while (i < len) { out(i) = dict(codes(i)); i += 1 }
      case TagFreq =>
        val top = longBitsToDouble(in.i64())
        val pos = IntCodec.decode(in)
        val exc = decode(in)
        java.util.Arrays.fill(out, top)
        var i = 0
        while (i < pos.length) { out(pos(i)) = exc(i); i += 1 }
      case TagDecimal =>
        val exps = IntCodec.decode(in)
        val digs = IntCodec.decode(in)
        val exc = decode(in)
        var i = 0; var j = 0
        while (i < len) {
          if (exps(i) == ExcExp) { out(i) = exc(j); j += 1 }
          else out(i) = digs(i).toDouble / Pow10(exps(i))
          i += 1
        }
    }
    out
  }

  def describe(in: BufReader): String = {
    val tag = in.u8()
    val len = in.i32()
    tag match {
      case TagUncompressed => in.pos += len * 8; "Raw"
      case TagOneValue     => in.pos += 8; "One"
      case TagRle          => val a = describe(in); val b = IntCodec.describe(in); s"RLE(v=$a,r=$b)"
      case TagDict         => val d = describe(in); val c = IntCodec.describe(in); s"Dict(d=$d,c=$c)"
      case TagFreq =>
        in.pos += 8; val p = IntCodec.describe(in); val e = describe(in); s"Freq(p=$p,e=$e)"
      case TagDecimal =>
        val e = IntCodec.describe(in); val d = IntCodec.describe(in); val x = describe(in)
        s"Decimal(e=$e,d=$d,x=$x)"
    }
  }
}
