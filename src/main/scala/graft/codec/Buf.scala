package graft.codec

/** Growable little-endian byte sink for codec blocks.
  *
  * Pure Scala, zero Spark imports — the whole `graft.codec` package is
  * Spark-free so kernels are unit-testable and usable from any executor
  * context (mapPartitions, Catalyst expressions).
  */
final class BufWriter(initialCapacity: Int = 1 << 12) {
  private var arr = new Array[Byte](math.max(initialCapacity, 16))
  private var pos = 0

  def size: Int = pos

  private def ensure(n: Int): Unit = {
    if (pos + n > arr.length) {
      var cap = arr.length
      while (cap < pos + n) cap <<= 1
      arr = java.util.Arrays.copyOf(arr, cap)
    }
  }

  def u8(v: Int): Unit = { ensure(1); arr(pos) = v.toByte; pos += 1 }

  def i32(v: Int): Unit = {
    ensure(4)
    arr(pos) = v.toByte
    arr(pos + 1) = (v >>> 8).toByte
    arr(pos + 2) = (v >>> 16).toByte
    arr(pos + 3) = (v >>> 24).toByte
    pos += 4
  }

  def i64(v: Long): Unit = {
    ensure(8)
    var i = 0
    while (i < 8) { arr(pos + i) = (v >>> (8 * i)).toByte; i += 1 }
    pos += 8
  }

  def f64(v: Double): Unit = i64(java.lang.Double.doubleToRawLongBits(v))

  def bytes(b: Array[Byte]): Unit = bytes(b, 0, b.length)

  def bytes(b: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(b, off, arr, pos, len)
    pos += len
  }

  def result(): Array[Byte] = java.util.Arrays.copyOf(arr, pos)

  /** The internal buffer (valid up to `size`) — lets arena consumers avoid
    * the final copy. The writer must not be reused afterwards.
    */
  def buffer: Array[Byte] = arr
}

/** Sequential little-endian reader over an encoded block. */
final class BufReader(val arr: Array[Byte], var pos: Int = 0) {
  def u8(): Int = { val v = arr(pos) & 0xff; pos += 1; v }

  def i32(): Int = {
    val v = (arr(pos) & 0xff) |
      ((arr(pos + 1) & 0xff) << 8) |
      ((arr(pos + 2) & 0xff) << 16) |
      ((arr(pos + 3) & 0xff) << 24)
    pos += 4
    v
  }

  def i64(): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (arr(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += 8
    v
  }

  def f64(): Double = java.lang.Double.longBitsToDouble(i64())

  def bytes(len: Int): Array[Byte] = {
    val out = java.util.Arrays.copyOfRange(arr, pos, pos + len)
    pos += len
    out
  }

  def remaining: Int = arr.length - pos
}
