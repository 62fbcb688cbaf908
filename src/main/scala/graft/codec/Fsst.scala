package graft.codec

import scala.collection.mutable

/** FSST (Fast Static Symbol Table) string compression, re-derived from the
  * public paper (Boncz/Neumann/Leis, VLDB'20) — the reference links the
  * vendor implementation (/root/reference/build.rs:79-80) behind its FFI;
  * no FSST code exists in the Rust repo.
  *
  * Model: up to 255 symbols of 1..8 bytes each map to codes 0..254; code
  * 255 is the escape marker (next output byte is a literal). Tables are
  * trained per column chunk on a sample, iteratively: compress the sample
  * with the current table, count code and adjacent-code-pair frequencies,
  * promote the highest-gain (freq × length) symbols into the next
  * generation's table.
  */
object Fsst {
  final val EscapeCode = 255
  final val MaxSymbols = 255
  final val MaxSymbolLen = 8
  final val TrainGenerations = 5
  final val MaxSampleBytes = 1 << 16

  /** Pack up to 8 bytes little-endian into a long. */
  @inline def pack(data: Array[Byte], pos: Int, len: Int): Long = {
    var k = 0L
    var i = 0
    while (i < len) { k |= (data(pos + i) & 0xffL) << (8 * i); i += 1 }
    k
  }

  /** Unrolled full-word pack (requires pos + 8 <= data.length) — the
    * compress loop calls this once per input position, so the straight-line
    * form (JIT-mergeable loads) beats the length-bounded loop measurably.
    */
  @inline def pack8(data: Array[Byte], pos: Int): Long =
    (data(pos) & 0xffL) |
      ((data(pos + 1) & 0xffL) << 8) |
      ((data(pos + 2) & 0xffL) << 16) |
      ((data(pos + 3) & 0xffL) << 24) |
      ((data(pos + 4) & 0xffL) << 32) |
      ((data(pos + 5) & 0xffL) << 40) |
      ((data(pos + 6) & 0xffL) << 48) |
      ((data(pos + 7) & 0xffL) << 56)

  @inline def packAt(data: Array[Byte], pos: Int, len: Int): Long =
    if (pos + 8 <= data.length) {
      val full = pack8(data, pos)
      if (len == 8) full else full & ((1L << (8 * len)) - 1)
    } else pack(data, pos, len)

  def train(sample: Array[Byte]): FsstTable = {
    val s =
      if (sample.length <= MaxSampleBytes) sample
      else java.util.Arrays.copyOf(sample, MaxSampleBytes)
    var table = new FsstTable(Array.empty)
    var gen = 0
    while (gen < TrainGenerations) {
      table = nextGeneration(table, s)
      gen += 1
    }
    table
  }

  /** One training round: compress sample with `table` counting frequencies,
    * then pick the top-gain symbol set for the next generation.
    *
    * Counting code space: 0..254 = table symbols, 256+b = literal byte b.
    */
  private def nextGeneration(table: FsstTable, sample: Array[Byte]): FsstTable = {
    val nCodes = 256 + 256
    val count1 = new Array[Long](nCodes)
    val pairs = new mutable.LongMap[Long]() // (prev << 16 | cur) -> count

    var prev = -1
    var pos = 0
    while (pos < sample.length) {
      val (code, len) = table.findLongest(sample, pos, sample.length)
      val cur = if (code >= 0) code else 256 + (sample(pos) & 0xff)
      val adv = if (code >= 0) len else 1
      count1(cur) += 1
      if (prev >= 0) {
        val k = (prev.toLong << 16) | cur.toLong
        pairs(k) = pairs.getOrElse(k, 0L) + 1L
      }
      prev = cur
      pos += adv
    }

    def symBytes(c: Int): Array[Byte] =
      if (c < 256) table.symbols(c) else Array((c - 256).toByte)

    // candidate -> gain, keyed by (packedBytes, len) for dedup
    val gains = new mutable.HashMap[(Long, Int), (Array[Byte], Long)]()
    def add(bytes: Array[Byte], gain: Long): Unit = {
      if (bytes.length == 0 || bytes.length > MaxSymbolLen) return
      val key = (pack(bytes, 0, bytes.length), bytes.length)
      gains.get(key) match {
        case Some((b, g)) => gains(key) = (b, g + gain)
        case None         => gains(key) = (bytes, gain)
      }
    }
    var c = 0
    while (c < nCodes) {
      if (count1(c) > 0) {
        val b = symBytes(c)
        add(b, count1(c) * b.length)
      }
      c += 1
    }
    pairs.foreach { case (k, n) =>
      val a = symBytes((k >>> 16).toInt)
      val b = symBytes((k & 0xffff).toInt)
      if (a.length + b.length <= MaxSymbolLen) {
        val concat = new Array[Byte](a.length + b.length)
        System.arraycopy(a, 0, concat, 0, a.length)
        System.arraycopy(b, 0, concat, a.length, b.length)
        add(concat, n * concat.length)
      }
    }

    // deterministic top-255: gain desc, then length desc, then bytes lex
    val sorted = gains.values.toArray.sortWith { case ((ab, ag), (bb, bg)) =>
      if (ag != bg) ag > bg
      else if (ab.length != bb.length) ab.length > bb.length
      else {
        var i = 0
        while (i < ab.length && ab(i) == bb(i)) i += 1
        i < ab.length && (ab(i) & 0xff) < (bb(i) & 0xff)
      }
    }
    new FsstTable(sorted.take(MaxSymbols).map(_._1))
  }

  def deserialize(in: BufReader): FsstTable = {
    val n = in.u8()
    val syms = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val len = in.u8()
      syms(i) = in.bytes(len)
      i += 1
    }
    new FsstTable(syms)
  }
}

/** A trained symbol table with O(1)-ish longest-match lookup. */
final class FsstTable(val symbols: Array[Array[Byte]]) {
  require(symbols.length <= Fsst.MaxSymbols)

  // open-addressing map (packedBytes, len) -> code; capacity 2048 >> 255 entries
  private val Cap = 2048
  private val hkeys = new Array[Long](Cap)
  private val hlens = new Array[Byte](Cap) // 0 = empty slot
  private val hcodes = new Array[Short](Cap)
  /** max symbol length starting with each first byte (probe limiter) */
  private val firstByteMax = new Array[Byte](256)
  /** bit l-1 set iff some symbol of length l starts with that byte — the
    * probe loop visits only lengths that exist (code text mostly has 2-4
    * byte symbols; blind 8..1 probing wastes ~half the encode time)
    */
  private val lenMask = new Array[Int](256)

  {
    var c = 0
    while (c < symbols.length) {
      val s = symbols(c)
      val key = Fsst.pack(s, 0, s.length)
      var h = hash(key, s.length)
      while (hlens(h) != 0) h = (h + 1) & (Cap - 1)
      hkeys(h) = key; hlens(h) = s.length.toByte; hcodes(h) = c.toShort
      val fb = s(0) & 0xff
      if (s.length > firstByteMax(fb)) firstByteMax(fb) = s.length.toByte
      lenMask(fb) |= 1 << (s.length - 1)
      c += 1
    }
  }

  @inline private def hash(key: Long, len: Int): Int = {
    val x = (key ^ (len.toLong * 0x9e3779b97f4a7c15L)) * -7046029254386353131L
    ((x >>> 48) ^ (x >>> 24)).toInt & (Cap - 1)
  }

  @inline private def lookup(key: Long, len: Int): Int = {
    var h = hash(key, len)
    while (hlens(h) != 0) {
      if (hlens(h) == len && hkeys(h) == key) return hcodes(h)
      h = (h + 1) & (Cap - 1)
    }
    -1
  }

  /** Longest symbol matching data[pos..end); returns (code, len) or (-1, 0). */
  def findLongest(data: Array[Byte], pos: Int, end: Int): (Int, Int) = {
    val maxHere = math.min(firstByteMax(data(pos) & 0xff).toInt, end - pos)
    if (maxHere == 0) return (-1, 0)
    val full = Fsst.packAt(data, pos, maxHere)
    var l = maxHere
    while (l >= 1) {
      val key = if (l == 8) full else full & ((1L << (8 * l)) - 1)
      val c = lookup(key, l)
      if (c >= 0) return (c, l)
      l -= 1
    }
    (-1, 0)
  }

  /** Compress data[off, off+len) into out; returns compressed byte count. */
  def compress(data: Array[Byte], off: Int, len: Int, out: BufWriter): Int = {
    val before = out.size
    val end = off + len
    var pos = off
    while (pos < end) {
      val fb = data(pos) & 0xff
      val maxHere = math.min(firstByteMax(fb).toInt, end - pos)
      var code = -1
      var adv = 1
      if (maxHere > 0) {
        val full = Fsst.packAt(data, pos, maxHere)
        // probe longest-first, but only lengths that exist for this byte
        var mask = lenMask(fb) & ((1 << maxHere) - 1)
        while (code < 0 && mask != 0) {
          val l = 32 - java.lang.Integer.numberOfLeadingZeros(mask) // highest set bit + 1
          val key = if (l == 8) full else full & ((1L << (8 * l)) - 1)
          val c = lookup(key, l)
          if (c >= 0) { code = c; adv = l }
          mask &= ~(1 << (l - 1))
        }
      }
      if (code >= 0) out.u8(code)
      else { out.u8(Fsst.EscapeCode); out.u8(fb) }
      pos += adv
    }
    out.size - before
  }

  /** Decompress `clen` compressed bytes from `in` into a fresh array. */
  def decompress(in: BufReader, clen: Int): Array[Byte] = {
    val out = new BufWriter(clen * 3)
    decompressInto(in, clen, out)
    out.result()
  }

  /** Decompress into a shared arena writer; returns the decompressed
    * length. Avoids the per-string BufWriter + result() copy of
    * `decompress` on the hot decode path.
    */
  // symbols pre-packed as (word, len) for the branch-free decode store
  private val symWord: Array[Long] = symbols.map(s => Fsst.pack(s, 0, s.length))
  private val symLen: Array[Int] = symbols.map(_.length)

  def decompressInto(in: BufReader, clen: Int, out: BufWriter): Int = {
    val start = out.size
    val end = in.pos + clen
    while (in.pos < end) {
      val c = in.u8()
      if (c == Fsst.EscapeCode) out.u8(in.u8())
      else out.word(symWord(c), symLen(c)) // full-word store, advance by len
    }
    out.size - start
  }

  def serialize(out: BufWriter): Unit = {
    out.u8(symbols.length)
    var i = 0
    while (i < symbols.length) {
      out.u8(symbols(i).length)
      out.bytes(symbols(i))
      i += 1
    }
  }
}
