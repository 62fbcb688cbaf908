package graft.codec

/** String scheme family per the public BtrBlocks paper; the reference binds
  * these behind its FFI (/root/reference/src/ffi.rs:69-74,
  * compress_column_string). Encodes an arena of UTF-8 slices (StrSlices),
  * so round-trips are bit-identical.
  *
  * Block layout: [tag:u8][count:i32][payload]; int sub-streams (lengths,
  * dict codes) cascade through IntCodec; dict entries cascade through this
  * codec (dict→FSST is the canonical cascade).
  */
object StringCodec {
  final val TagUncompressed = 0
  final val TagOneValue = 1
  final val TagDict = 2
  final val TagFsst = 3

  def schemeName(tag: Int): String = tag match {
    case TagUncompressed => "Uncompressed"
    case TagOneValue     => "OneValue"
    case TagDict         => "Dict"
    case TagFsst         => "FSST"
  }

  /** Per-value arrays enter the encoder here, copied into one arena. */
  def encode(v: Array[Array[Byte]], cfg: BtrConfig = BtrConfig.default): Array[Byte] = {
    val out = new BufWriter(256)
    encodeSlices(out, StrSlices.of(v), cfg.maxCascadeDepth, cfg)
    out.result()
  }

  def decode(arr: Array[Byte]): Array[Array[Byte]] = decode(new BufReader(arr))

  /** Sample, select and write one chunk; returns the chosen tag. A constant
    * chunk is OneValue. Otherwise Uncompressed, Dict (only when the sample
    * repeats: at most half its values distinct) and FSST are each written
    * for the sample, and the smallest wins. The FSST table trained on the
    * sample is reused for the whole chunk.
    */
  def encodeSlices(out: BufWriter, s: StrSlices, depth: Int, cfg: BtrConfig): Int = {
    val len = s.count
    if (len == 0 || depth <= 0) { encUncompressed(out, s, depth, cfg); return TagUncompressed }
    var const = true
    var i = 1
    while (const && i < len) { if (!s.sliceEquals(0, i)) const = false; i += 1 }
    if (const) {
      out.u8(TagOneValue); out.i32(len)
      out.i32(s.len(0)); out.bytes(s.data, s.start(0), s.len(0))
      return TagOneValue
    }
    val smp = sample(s)
    var bestTag = TagUncompressed
    var bestSize = trialSize(encUncompressed(_, smp, depth, cfg))
    val dict = dictionary(smp)
    if (dict._1.length * 2 <= smp.count) {
      val size = trialSize(encDict(_, smp, dict, depth, cfg))
      if (size < bestSize) { bestSize = size; bestTag = TagDict }
    }
    val trainLen = math.min(smp.totalBytes, Fsst.MaxSampleBytes.toLong).toInt
    val table = Fsst.train(java.util.Arrays.copyOfRange(smp.data, smp.start(0), smp.start(0) + trainLen))
    if (trialSize(encFsst(_, table, smp, depth, cfg)) < bestSize) bestTag = TagFsst
    bestTag match {
      case TagUncompressed => encUncompressed(out, s, depth, cfg)
      case TagDict         => encDict(out, s, dictionary(s), depth, cfg)
      case TagFsst         => encFsst(out, table, s, depth, cfg)
    }
    bestTag
  }

  private def trialSize(write: BufWriter => Unit): Int = {
    val w = new BufWriter(1024)
    write(w)
    w.size
  }

  /** Selection sample: the chunk itself when it has at most
    * Sampling.Runs × Sampling.RunLen values, else Sampling's evenly spaced
    * runs, each copied with one arraycopy.
    */
  private def sample(s: StrSlices): StrSlices = {
    val runLen = Sampling.RunLen
    val n = Sampling.Runs * runLen
    if (s.count <= n) return s
    val starts = Array.tabulate(Sampling.Runs)(r => Sampling.runStart(r, s.count))
    val data = new Array[Byte](starts.map(st => s.offsets(st + runLen) - s.offsets(st)).sum)
    val offsets = new Array[Int](n + 1)
    var o = 0
    for (st <- starts) {
      val from = s.offsets(st)
      System.arraycopy(s.data, from, data, offsets(o), s.offsets(st + runLen) - from)
      var k = 1
      while (k <= runLen) { offsets(o + k) = offsets(o) + s.offsets(st + k) - from; k += 1 }
      o += runLen
    }
    new StrSlices(data, offsets, n)
  }

  private def encUncompressed(out: BufWriter, s: StrSlices, depth: Int, cfg: BtrConfig): Unit = {
    val len = s.count
    out.u8(TagUncompressed)
    out.i32(len)
    val lengths = new Array[Int](len)
    var i = 0
    while (i < len) { lengths(i) = s.len(i); i += 1 }
    IntCodec.encode(out, lengths, 0, len, depth - 1, cfg)
    if (len > 0) out.bytes(s.data, s.start(0), s.offsets(len) - s.start(0))
  }

  /** The dictionary of `s`: the first row holding each distinct value, in
    * unsigned-lex value order, and each row's code (its value's position in
    * that order). Rows are grouped by a hash of their bytes in an
    * open-addressing table of row indexes, so no value is copied and only
    * the distinct values are sorted.
    */
  private def dictionary(s: StrSlices): (Array[Int], Array[Int]) = {
    val n = s.count
    val mask = (Integer.highestOneBit(math.max(1, n)) << 2) - 1 // load <= 1/2
    val slots = new Array[Int](mask + 1) // 1 + first row of a value; 0 = empty
    val firstRow = new Array[Int](n) // by id, in first-seen order
    val codes = new Array[Int](n) // id, then rank
    var d = 0
    var i = 0
    while (i < n) {
      var slot = sliceHash(s, i) & mask
      while (slots(slot) != 0 && !s.sliceEquals(slots(slot) - 1, i)) slot = (slot + 1) & mask
      if (slots(slot) != 0) codes(i) = codes(slots(slot) - 1)
      else { slots(slot) = i + 1; firstRow(d) = i; codes(i) = d; d += 1 }
      i += 1
    }
    val order = Array.range(0, d).sortWith((a, b) => s.sliceCompare(firstRow(a), firstRow(b)) < 0)
    val rank = new Array[Int](d)
    var k = 0
    while (k < d) { rank(order(k)) = k; k += 1 }
    i = 0
    while (i < n) { codes(i) = rank(codes(i)); i += 1 }
    (order.map(firstRow), codes)
  }

  /** Multiplicative hash of slice i's bytes with a murmur3 finalizer. */
  private def sliceHash(s: StrSlices, i: Int): Int = {
    var h = 0
    var p = s.start(i)
    val end = p + s.len(i)
    while (p < end) { h = 31 * h + s.data(p); p += 1 }
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  /** Dict block: `dict`'s distinct values (see `dictionary`), copied into
    * one arena in order and cascaded through encodeSlices, then each row's
    * code.
    */
  private def encDict(out: BufWriter, s: StrSlices, dict: (Array[Int], Array[Int]), depth: Int, cfg: BtrConfig): Unit = {
    val (uniq, codes) = dict
    val entries = new StrSlicesBuilder(1024, uniq.length)
    uniq.foreach(r => entries.add(s.data, s.start(r), s.len(r)))
    out.u8(TagDict)
    out.i32(s.count)
    encodeSlices(out, entries.result(), depth - 1, cfg)
    IntCodec.encode(out, codes, 0, s.count, depth - 1, cfg)
  }

  private[codec] def encFsst(out: BufWriter, table: FsstTable, s: StrSlices, depth: Int, cfg: BtrConfig): Unit = {
    val len = s.count
    out.u8(TagFsst)
    out.i32(len)
    table.serialize(out)
    val clens = new Array[Int](len)
    val blob = table.compress(s, clens)
    var blobLen = 0
    var i = 0
    while (i < len) { blobLen += clens(i); i += 1 }
    IntCodec.encode(out, clens, 0, len, depth - 1, cfg)
    out.i32(blobLen)
    out.bytes(blob, 0, blobLen)
  }

  // ---------------------------------------------------------------- decode

  def decode(in: BufReader): Array[Array[Byte]] = {
    val d = decodeSlices(in)
    val out = new Array[Array[Byte]](d.count)
    var i = 0
    while (i < d.count) { out(i) = d.copy(i); i += 1 }
    out
  }

  /** Arena decode — the hot read path. No per-string allocation:
    * Uncompressed values are VIEWS into the encoded block itself, OneValue
    * aliases one region, Dict values point into the decoded dict's arena
    * (pure index lookups, zero copying), and FSST decompresses into one
    * shared arena. Consumers wrap values as UTF8String.fromBytes(data,
    * start, len) without materializing per-string arrays.
    */
  def decodeSlices(in: BufReader): DecodedStrings = {
    val tag = in.u8()
    val len = in.i32()
    tag match {
      case TagUncompressed =>
        val lengths = IntCodec.decode(in)
        val starts = new Array[Int](len)
        var p = in.pos
        var i = 0
        while (i < len) { starts(i) = p; p += lengths(i); i += 1 }
        in.pos = p
        new DecodedStrings(in.arr, starts, lengths, len)
      case TagOneValue =>
        val l = in.i32()
        val start = in.pos
        in.pos += l
        val starts = new Array[Int](len)
        val lens = new Array[Int](len)
        java.util.Arrays.fill(starts, start)
        java.util.Arrays.fill(lens, l)
        new DecodedStrings(in.arr, starts, lens, len)
      case TagDict =>
        val dict = decodeSlices(in)
        val codes = IntCodec.decode(in)
        val starts = new Array[Int](len)
        val lens = new Array[Int](len)
        var i = 0
        while (i < len) {
          val c = codes(i)
          starts(i) = dict.starts(c)
          lens(i) = dict.lens(c)
          i += 1
        }
        new DecodedStrings(dict.data, starts, lens, len)
      case TagFsst =>
        val table = Fsst.deserialize(in)
        val clens = IntCodec.decode(in)
        val blobLen = in.i32()
        val d = Fsst.decompress(table, in.arr, in.pos, blobLen, clens, len)
        in.pos += blobLen
        d
    }
  }

  /** Top-level scheme description (for metrics/lineage) without decoding. */
  def describeBlock(arr: Array[Byte]): String = {
    val in = new BufReader(arr)
    val tag = in.u8()
    in.i32() // count
    tag match {
      case TagUncompressed => "Raw"
      case TagOneValue     => "One"
      case TagDict =>
        val dTag = new BufReader(arr, in.pos).u8()
        s"Dict(d=${schemeName(dTag)})"
      case TagFsst => "FSST"
    }
  }
}
