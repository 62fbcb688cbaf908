package graft.codec

import java.lang.invoke.{MethodHandles, VarHandle}
import java.nio.ByteOrder

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
  *
  * Encoding is greedy longest match in the paper's shape (`FsstTable.Matcher`):
  * a 64K-entry table on the next two bytes gives the best 1–2-byte code or
  * the escape, and where a symbol of 3+ bytes starts with those two bytes,
  * one hash probe on the 3-byte prefix reaches that prefix's symbols,
  * longest first, each checked with one masked compare of the 8-byte
  * window. A value's codes go into a plain array that has 2 × its length
  * free (every byte may need an escape). Decoding runs one loop over a
  * chunk's whole blob into an arena sized once: each symbol is one 8-byte
  * store, so no code writes more than 8 bytes.
  */
object Fsst {
  final val EscapeCode = 255
  final val MaxSymbols = 255
  final val MaxSymbolLen = 8
  final val TrainGenerations = 5
  final val MaxSampleBytes = 1 << 16

  /** Little-endian 8-byte stores into a byte array. Only `set` is used:
    * Scala 2.13 compiles `VarHandle.get` to a boxing `([BI)Object` call.
    */
  private val LongLE: VarHandle =
    MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], ByteOrder.LITTLE_ENDIAN)

  /** Pack up to 8 bytes little-endian into a long. */
  @inline def pack(data: Array[Byte], pos: Int, len: Int): Long = {
    var k = 0L
    var i = 0
    while (i < len) { k |= (data(pos + i) & 0xffL) << (8 * i); i += 1 }
    k
  }

  private val U: sun.misc.Unsafe = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }
  private val ByteBase = sun.misc.Unsafe.ARRAY_BYTE_BASE_OFFSET.toLong
  private val BigEndian = ByteOrder.nativeOrder == ByteOrder.BIG_ENDIAN

  /** The little-endian 8-byte window at `pos` of `data`: one unaligned
    * `Unsafe.getLong` (bounds checked by the guard), or `pack` of what is
    * left within 8 bytes of the end.
    */
  @inline private[codec] def window(data: Array[Byte], pos: Int): Long =
    if (pos + 8 <= data.length) {
      val w = U.getLong(data, ByteBase + pos)
      if (BigEndian) java.lang.Long.reverseBytes(w) else w
    } else pack(data, pos, data.length - pos)

  def train(sample: Array[Byte]): FsstTable = {
    val s =
      if (sample.length <= MaxSampleBytes) sample
      else java.util.Arrays.copyOf(sample, MaxSampleBytes)
    val trainer = new Trainer(s)
    var table = new FsstTable(Array.empty)
    var gen = 0
    while (gen < TrainGenerations) {
      table = trainer.nextGeneration(table)
      gen += 1
    }
    table
  }

  /** Scratch of one `train` call, reused by every generation: counting
    * codes 0..254 are table symbols and 256+b the literal byte b.
    */
  private final class Trainer(sample: Array[Byte]) {
    private val NCodes = 512
    private val count1 = new Array[Int](NCodes)
    /** pairs(prev * 512 + cur); only the `touched` entries are non-zero. */
    private val pairs = new Array[Int](NCodes * NCodes)
    private val touched = new Array[Int](math.max(1, sample.length))
    // candidate symbols, open addressing on (word, len); len 0 = empty slot
    private val capBits = 32 - Integer.numberOfLeadingZeros(2 * (NCodes + sample.length))
    private val capMask = (1 << capBits) - 1
    private val candWord = new Array[Long](capMask + 1)
    private val candLen = new Array[Int](capMask + 1)
    private val candGain = new Array[Long](capMask + 1)
    private val used = new Array[Int](NCodes + sample.length)
    private var nUsed = 0
    /** the best MaxSymbols candidates seen, as a heap with the worst at 0 */
    private val heap = new Array[Int](MaxSymbols)

    /** One training round: compress the sample with `table` counting code
      * and adjacent-pair frequencies, then keep the top-gain symbols.
      */
    def nextGeneration(table: FsstTable): FsstTable = {
      val n = sample.length
      val m = table.matcher
      java.util.Arrays.fill(count1, 0)
      var nTouched = 0
      var prev = -1
      var pos = 0
      while (pos < n) {
        val cl = m.longest(sample, pos, n)
        val code = cl & 0xffff
        val cur = if (code != EscapeCode) code else 256 + (sample(pos) & 0xff)
        count1(cur) += 1
        if (prev >= 0) {
          val k = prev * NCodes + cur
          if (pairs(k) == 0) { touched(nTouched) = k; nTouched += 1 }
          pairs(k) += 1
        }
        prev = cur
        pos += cl >>> 16
      }

      var i = 0
      while (i < nUsed) { candLen(used(i)) = 0; i += 1 }
      nUsed = 0
      var c = 0
      while (c < NCodes) {
        if (count1(c) > 0) add(word(table, c), len(table, c), count1(c).toLong * len(table, c))
        c += 1
      }
      i = 0
      while (i < nTouched) {
        val k = touched(i)
        val a = k >>> 9
        val b = k & (NCodes - 1)
        val la = len(table, a)
        val l = la + len(table, b)
        if (l <= MaxSymbolLen) add(word(table, a) | (word(table, b) << (8 * la)), l, pairs(k).toLong * l)
        pairs(k) = 0
        i += 1
      }
      selectTop()
    }

    private def word(t: FsstTable, c: Int): Long = if (c < 256) t.symWord(c) else (c - 256).toLong
    private def len(t: FsstTable, c: Int): Int = if (c < 256) t.symLen(c) else 1

    private def add(w: Long, l: Int, gain: Long): Unit = {
      val x = (w ^ (l.toLong * 0x9e3779b97f4a7c15L)) * -7046029254386353131L
      var h = (x >>> (64 - capBits)).toInt
      while (candLen(h) != 0 && (candLen(h) != l || candWord(h) != w)) h = (h + 1) & capMask
      if (candLen(h) == 0) {
        candWord(h) = w; candLen(h) = l; candGain(h) = gain
        used(nUsed) = h; nUsed += 1
      } else candGain(h) += gain
    }

    /** Candidate slot a ranks before b: gain desc, then length desc, then
      * unsigned bytes ascending (same-length words compare as big-endian).
      */
    private def before(a: Int, b: Int): Boolean =
      if (candGain(a) != candGain(b)) candGain(a) > candGain(b)
      else if (candLen(a) != candLen(b)) candLen(a) > candLen(b)
      else java.lang.Long.compareUnsigned(
        java.lang.Long.reverseBytes(candWord(a)), java.lang.Long.reverseBytes(candWord(b))) < 0

    private def siftDown(size: Int): Unit = {
      var p = 0
      var done = false
      while (!done) {
        val l = 2 * p + 1
        if (l >= size) done = true
        else {
          val w = if (l + 1 < size && before(heap(l), heap(l + 1))) l + 1 else l
          if (before(heap(p), heap(w))) {
            val t = heap(p); heap(p) = heap(w); heap(w) = t
            p = w
          } else done = true
        }
      }
    }

    /** The best MaxSymbols candidates, best first, as the next table. */
    private def selectTop(): FsstTable = {
      var size = 0
      var i = 0
      while (i < nUsed) {
        val s = used(i)
        if (size < MaxSymbols) {
          var p = size
          heap(p) = s
          size += 1
          while (p > 0 && before(heap((p - 1) / 2), heap(p))) {
            val q = (p - 1) / 2
            val t = heap(p); heap(p) = heap(q); heap(q) = t
            p = q
          }
        } else if (before(s, heap(0))) {
          heap(0) = s
          siftDown(size)
        }
        i += 1
      }
      val syms = new Array[Array[Byte]](size)
      while (size > 0) {
        val s = heap(0)
        size -= 1
        heap(0) = heap(size)
        siftDown(size)
        val b = new Array[Byte](candLen(s))
        var k = 0
        while (k < b.length) { b(k) = (candWord(s) >>> (8 * k)).toByte; k += 1 }
        syms(size) = b
      }
      new FsstTable(syms)
    }
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

  /** The decoded length of blob src[from, from + blobLen). */
  private[codec] def decodedLength(table: FsstTable, src: Array[Byte], from: Int, blobLen: Int): Long = {
    var n = 0L
    var ip = from
    val end = from + blobLen
    while (ip < end) {
      val c = src(ip) & 0xff
      if (c == EscapeCode) { n += 1; ip += 2 }
      else { n += table.symLen(c); ip += 1 }
    }
    n
  }

  /** Decodes the blob src[from, from + blobLen), value i's codes being the
    * next clens(i) bytes, in one pass into one arena. Each symbol is one
    * 8-byte store whose tail the next code overwrites, so a code writes at
    * most 8 bytes and the arena is sized once at 8 × blobLen + 8 (exactly,
    * by a counting pass, when that bound does not fit an array).
    */
  def decompress(table: FsstTable, src: Array[Byte], from: Int, blobLen: Int, clens: Array[Int], count: Int): DecodedStrings = {
    val bound = 8L * blobLen + 8
    val size = if (bound <= MaxArena) bound else decodedLength(table, src, from, blobLen) + 8
    require(size <= MaxArena, s"FSST chunk decodes to $size bytes, more than one array holds")
    val arena = new Array[Byte](size.toInt)
    val starts = new Array[Int](count)
    val lens = new Array[Int](count)
    val symWord = table.symWord
    val symLen = table.symLen
    var ip = from
    var op = 0
    var i = 0
    while (i < count) {
      starts(i) = op
      val stop = ip + clens(i)
      while (ip < stop) {
        val c = src(ip) & 0xff
        if (c == EscapeCode) { arena(op) = src(ip + 1); op += 1; ip += 2 }
        else { LongLE.set(arena, op, symWord(c)); op += symLen(c); ip += 1 }
      }
      lens(i) = op - starts(i)
      i += 1
    }
    new DecodedStrings(arena, starts, lens, count)
  }

  private final val MaxArena = Int.MaxValue - 16L
}

/** A trained symbol table with the encoder's longest-match tables. */
final class FsstTable(val symbols: Array[Array[Byte]]) {
  require(symbols.length <= Fsst.MaxSymbols)

  /** Per code (255, the escape, unused): the symbol as a little-endian word and its length. */
  private[codec] val symWord = new Array[Long](256)
  private[codec] val symLen = new Array[Int](256)

  {
    var c = 0
    while (c < symbols.length) {
      val s = symbols(c)
      require(s.length >= 1 && s.length <= Fsst.MaxSymbolLen, s"FSST symbol $c has ${s.length} bytes")
      symWord(c) = Fsst.pack(s, 0, s.length)
      symLen(c) = s.length
      c += 1
    }
  }

  /** Encoder tables, built on first use (a table read for decoding never needs them). */
  private[codec] lazy val matcher = new FsstTable.Matcher(symWord, symLen, symbols.length)

  /** Compresses each value of `s` into one blob, value i's codes being the
    * next clens(i) bytes; returns the blob, valid up to the clens' sum.
    */
  def compress(s: StrSlices, clens: Array[Int]): Array[Byte] = {
    val m = matcher
    val data = s.data
    var out = new Array[Byte](math.max(64L, s.totalBytes / 3).toInt)
    var op = 0
    var i = 0
    while (i < s.count) {
      var pos = s.start(i)
      val end = pos + s.len(i)
      val need = op + 2L * (end - pos)
      if (need > out.length)
        out = java.util.Arrays.copyOf(out, math.min(Int.MaxValue - 16L, math.max(need, 2L * out.length)).toInt)
      val from = op
      while (pos < end) {
        val cl = m.longest(data, pos, end)
        val code = cl & 0xffff
        out(op) = code.toByte
        if (code == Fsst.EscapeCode) { out(op + 1) = data(pos); op += 2 }
        else op += 1
        pos += cl >>> 16
      }
      clens(i) = op - from
      i += 1
    }
    out
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

object FsstTable {
  private final val HasLong = 1 << 24
  private final val P3Bits = 10
  private final val P3Mask = (1 << P3Bits) - 1
  private final val Escape1 = Fsst.EscapeCode | 1 << 16

  /** Longest-match tables of a symbol table. */
  private[codec] final class Matcher(symWord: Array[Long], symLen: Array[Int], n: Int) {
    /** single(b): the 1-byte symbol b, or the escape (a value's last byte). */
    private val single = Array.fill(256)(Escape1)
    /** short(b0 | b1 << 8): the longest 1–2-byte symbol prefixing b0 b1, or
      * the escape, plus HasLong when a symbol of 3+ bytes starts with b0 b1.
      */
    private val short = new Array[Int](1 << 16)
    // 3-byte prefix -> its symbols of 3+ bytes, open addressing (key -1 =
    // empty); p3Range = first | end << 16 into longWord/longCode
    private val p3Key = Array.fill(P3Mask + 1)(-1)
    private val p3Range = new Array[Int](P3Mask + 1)
    private val longWord = new Array[Long](n)
    private val longCode = new Array[Int](n)

    {
      var c = n - 1 // descending, so the lowest of equal symbols wins
      while (c >= 0) { if (symLen(c) == 1) single(symWord(c).toInt) = c | 1 << 16; c -= 1 }
      var x = 0
      while (x < (1 << 16)) { short(x) = single(x & 0xff); x += 1 }
      c = n - 1
      while (c >= 0) { if (symLen(c) == 2) short(symWord(c).toInt) = c | 2 << 16; c -= 1 }
      // symbols of 3+ bytes grouped by 3-byte prefix, longest (then lowest code) first
      val long = (0 until n).filter(symLen(_) >= 3)
        .sortBy(c => (symWord(c) & 0xffffff, -symLen(c), c)).toArray
      var i = 0
      while (i < long.length) {
        val c = long(i)
        val p = (symWord(c) & 0xffffff).toInt
        short(p & 0xffff) |= HasLong
        var h = slot(p)
        while (p3Key(h) != p && p3Key(h) != -1) h = (h + 1) & P3Mask
        if (p3Key(h) == -1) { p3Key(h) = p; p3Range(h) = i }
        p3Range(h) = (p3Range(h) & 0xffff) | (i + 1) << 16
        longWord(i) = symWord(c)
        longCode(i) = c | symLen(c) << 16
        i += 1
      }
    }

    @inline private def slot(p: Int): Int = (p * 0x9e3779b1) >>> (32 - P3Bits)

    /** Longest symbol that prefixes data[pos, end), as `code | len << 16`,
      * or `EscapeCode | 1 << 16` when none does; equal symbols match their
      * lowest code.
      */
    def longest(data: Array[Byte], pos: Int, end: Int): Int = {
      val r = end - pos
      val w = Fsst.window(data, pos)
      if (r < 2) return single(w.toInt & 0xff)
      val e = short(w.toInt & 0xffff)
      if ((e & HasLong) != 0 && r >= 3) {
        val p = w.toInt & 0xffffff
        var h = slot(p)
        var k = p3Key(h)
        while (k != p && k != -1) { h = (h + 1) & P3Mask; k = p3Key(h) }
        if (k == p) {
          val rng = p3Range(h)
          var i = rng & 0xffff
          val stop = rng >>> 16
          while (i < stop) {
            val cl = longCode(i)
            val l = cl >>> 16
            if (l <= r && (w & (-1L >>> ((8 - l) << 3))) == longWord(i)) return cl
            i += 1
          }
        }
      }
      e & ~HasLong
    }
  }
}
