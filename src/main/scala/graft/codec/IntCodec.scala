package graft.codec

/** Integer (i32) scheme family, re-derived from the public BtrBlocks paper
  * (SIGMOD'23) — the reference binds these behind an FFI
  * (/root/reference/src/ffi.rs:63-64, compress_column_i32); no scheme
  * internals exist in the Rust repo to copy.
  *
  * Block layout: [tag:u8][count:i32][payload]. Sub-streams (dict codes, RLE
  * runs, exception lists...) are themselves full blocks, encoded recursively
  * with depth-1 — BtrBlocks' cascading.
  */
object IntCodec {
  // scheme tags
  final val TagUncompressed = 0
  final val TagOneValue = 1
  final val TagRle = 2
  final val TagFbp = 3 // frame-of-reference + fixed-width bit-pack
  final val TagDict = 4
  final val TagFreq = 5 // frequency: one hot value + exception list

  def schemeName(tag: Int): String = tag match {
    case TagUncompressed => "Uncompressed"
    case TagOneValue     => "OneValue"
    case TagRle          => "RLE"
    case TagFbp          => "FOR+BitPack"
    case TagDict         => "Dict"
    case TagFreq         => "Frequency"
  }

  /** Encode values[off, off+len) as a self-contained block. */
  def encode(out: BufWriter, v: Array[Int], off: Int, len: Int, depth: Int, cfg: BtrConfig): Int = {
    val tag = select(v, off, len, depth, cfg)
    encodeWith(tag, out, v, off, len, depth, cfg)
    tag
  }

  def encode(v: Array[Int], cfg: BtrConfig = BtrConfig.default): Array[Byte] = {
    val out = new BufWriter(v.length * 4 / 2 + 64)
    encode(out, v, 0, v.length, cfg.maxCascadeDepth, cfg)
    out.result()
  }

  def decode(arr: Array[Byte]): Array[Int] = decode(new BufReader(arr))

  // ---------------------------------------------------------------- select

  /** Sample-based greedy selection: actually encode a small sample with each
    * candidate and pick the smallest output (BtrBlocks' estimated-ratio
    * argmax, made exact on the sample).
    */
  def select(v: Array[Int], off: Int, len: Int, depth: Int, cfg: BtrConfig): Int = {
    if (len == 0) return TagUncompressed
    if (isConstant(v, off, len)) return TagOneValue
    if (depth <= 0) return TagUncompressed
    val (soff, slen, sample) = Sampling.sampleInts(v, off, len)
    var bestTag = TagUncompressed
    var bestSize = Int.MaxValue
    val candidates = Array(TagUncompressed, TagFbp, TagRle, TagDict, TagFreq)
    var i = 0
    while (i < candidates.length) {
      val t = candidates(i)
      val w = new BufWriter(slen * 4 + 64)
      encodeWith(t, w, sample, soff, slen, depth, cfg)
      if (w.size < bestSize) { bestSize = w.size; bestTag = t }
      i += 1
    }
    bestTag
  }

  private def isConstant(v: Array[Int], off: Int, len: Int): Boolean = {
    var i = 1
    val v0 = v(off)
    while (i < len) { if (v(off + i) != v0) return false; i += 1 }
    true
  }

  // ---------------------------------------------------------------- encode

  def encodeWith(tag: Int, out: BufWriter, v: Array[Int], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    out.u8(tag)
    out.i32(len)
    tag match {
      case TagUncompressed => encUncompressed(out, v, off, len)
      case TagOneValue     => out.i32(if (len > 0) v(off) else 0)
      case TagRle          => encRle(out, v, off, len, depth, cfg)
      case TagFbp          => encFbp(out, v, off, len)
      case TagDict         => encDict(out, v, off, len, depth, cfg)
      case TagFreq         => encFreq(out, v, off, len, depth, cfg)
    }
  }

  private def encUncompressed(out: BufWriter, v: Array[Int], off: Int, len: Int): Unit = {
    var i = 0
    while (i < len) { out.i32(v(off + i)); i += 1 }
  }

  private def encRle(out: BufWriter, v: Array[Int], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    // pass 1: count runs (no allocation); pass 2: fill primitive arrays
    var nRuns = 0
    var i = 0
    while (i < len) {
      val x = v(off + i)
      i += 1
      while (i < len && v(off + i) == x) i += 1
      nRuns += 1
    }
    val va = new Array[Int](nRuns)
    val ra = new Array[Int](nRuns)
    i = 0
    var r = 0
    while (i < len) {
      val start = i
      val x = v(off + i)
      i += 1
      while (i < len && v(off + i) == x) i += 1
      va(r) = x; ra(r) = i - start; r += 1
    }
    encode(out, va, 0, nRuns, depth - 1, cfg)
    encode(out, ra, 0, nRuns, depth - 1, cfg)
  }

  private def encFbp(out: BufWriter, v: Array[Int], off: Int, len: Int): Unit = {
    var mn = v(off); var mx = v(off)
    var i = 1
    while (i < len) {
      val x = v(off + i)
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    val deltas = new Array[Long](len)
    i = 0
    while (i < len) { deltas(i) = (v(off + i).toLong - mn.toLong) & 0xffffffffL; i += 1 }
    val width = BitPack.bitsFor((mx.toLong - mn.toLong) & 0xffffffffL)
    out.i32(mn)
    out.u8(width)
    BitPack.pack32(out, deltas, 0, len, width)
  }

  private def encDict(out: BufWriter, v: Array[Int], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    val sorted = java.util.Arrays.copyOfRange(v, off, off + len)
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < len) {
      if (n == 0 || sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val dict = java.util.Arrays.copyOf(sorted, n)
    val codes = new Array[Int](len)
    i = 0
    while (i < len) { codes(i) = java.util.Arrays.binarySearch(dict, v(off + i)); i += 1 }
    encode(out, dict, 0, dict.length, depth - 1, cfg)
    encode(out, codes, 0, len, depth - 1, cfg)
  }

  private def encFreq(out: BufWriter, v: Array[Int], off: Int, len: Int, depth: Int, cfg: BtrConfig): Unit = {
    // mode of the chunk: the longest run of a sorted copy, the smallest value on ties
    val sorted = java.util.Arrays.copyOfRange(v, off, off + len)
    java.util.Arrays.sort(sorted)
    var top = v(off); var topN = -1
    var i = 0
    while (i < len) {
      val start = i
      while (i < len && sorted(i) == sorted(start)) i += 1
      if (i - start > topN) { top = sorted(start); topN = i - start }
    }
    var nExc = 0
    i = 0
    while (i < len) { if (v(off + i) != top) nExc += 1; i += 1 }
    val pos = new Array[Int](nExc)
    val exc = new Array[Int](nExc)
    var j = 0
    i = 0
    while (i < len) {
      if (v(off + i) != top) { pos(j) = i; exc(j) = v(off + i); j += 1 }
      i += 1
    }
    out.i32(top)
    encode(out, pos, 0, nExc, depth - 1, cfg)
    encode(out, exc, 0, nExc, depth - 1, cfg)
  }

  // ---------------------------------------------------------------- decode

  def decode(in: BufReader): Array[Int] = {
    val tag = in.u8()
    val len = in.i32()
    val out = new Array[Int](len)
    tag match {
      case TagUncompressed =>
        var i = 0
        while (i < len) { out(i) = in.i32(); i += 1 }
      case TagOneValue =>
        val x = in.i32()
        java.util.Arrays.fill(out, x)
      case TagRle =>
        val values = decode(in)
        val runs = decode(in)
        var i = 0; var o = 0
        while (i < values.length) {
          java.util.Arrays.fill(out, o, o + runs(i), values(i))
          o += runs(i); i += 1
        }
      case TagFbp =>
        val mn = in.i32()
        val width = in.u8()
        val deltas = new Array[Long](len)
        BitPack.unpack32(in, deltas, len, width)
        var i = 0
        while (i < len) { out(i) = (mn.toLong + deltas(i)).toInt; i += 1 }
      case TagDict =>
        val dict = decode(in)
        val codes = decode(in)
        var i = 0
        while (i < len) { out(i) = dict(codes(i)); i += 1 }
      case TagFreq =>
        val top = in.i32()
        val pos = decode(in)
        val exc = decode(in)
        java.util.Arrays.fill(out, top)
        var i = 0
        while (i < pos.length) { out(pos(i)) = exc(i); i += 1 }
    }
    out
  }

  /** Human-readable scheme tree of an encoded block (for metrics/lineage). */
  def describe(in: BufReader): String = {
    val tag = in.u8()
    val len = in.i32()
    tag match {
      case TagUncompressed => in.pos += len * 4; "Raw"
      case TagOneValue     => in.pos += 4; "One"
      case TagRle          => val a = describe(in); val b = describe(in); s"RLE(v=$a,r=$b)"
      case TagFbp =>
        in.pos += 4; val w = in.u8(); in.pos += BitPack.packedByteLen(len, w); s"FBP(w=$w)"
      case TagDict => val d = describe(in); val c = describe(in); s"Dict(d=$d,c=$c)"
      case TagFreq => in.pos += 4; val p = describe(in); val e = describe(in); s"Freq(p=$p,e=$e)"
    }
  }
}
