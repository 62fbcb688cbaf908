package graft.codec

/** Arena representation of a string-column chunk: one contiguous byte
  * buffer + offsets, instead of one Array[Byte] per value. Cuts per-string
  * allocation/GC in the hottest encode path (content columns) — string i
  * is data[offsets(i), offsets(i+1)).
  */
final class StrSlices(val data: Array[Byte], val offsets: Array[Int], val count: Int) {
  @inline def start(i: Int): Int = offsets(i)
  @inline def len(i: Int): Int = offsets(i + 1) - offsets(i)
  def totalBytes: Long = (offsets(count) - offsets(0)).toLong

  def sliceEquals(i: Int, j: Int): Boolean = {
    java.util.Arrays.equals(data, start(i), start(i) + len(i), data, start(j), start(j) + len(j))
  }

  /** Unsigned-lex compare of slices i and j. */
  def sliceCompare(i: Int, j: Int): Int =
    java.util.Arrays.compareUnsigned(
      data, start(i), start(i) + len(i),
      data, start(j), start(j) + len(j))

  def copy(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(data, start(i), start(i) + len(i))
}

object StrSlices {
  /** One arena holding a copy of each value, in order. */
  def of(v: Array[Array[Byte]]): StrSlices = {
    val b = new StrSlicesBuilder(v.iterator.map(_.length).sum, v.length)
    v.foreach(b.add)
    b.result()
  }
}

/** Decoded string column as shared-arena views: value i is
  * data[starts(i), starts(i)+lens(i)). Unlike StrSlices, values may ALIAS
  * (OneValue repeats one region, Dict values point into the dict arena),
  * so slices are not necessarily contiguous or disjoint — read-only.
  */
final class DecodedStrings(
    val data: Array[Byte],
    val starts: Array[Int],
    val lens: Array[Int],
    val count: Int) {
  def copy(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(data, starts(i), starts(i) + lens(i))
}

/** Growable builder for StrSlices. */
final class StrSlicesBuilder(initialBytes: Int = 1 << 16, initialCount: Int = 1024) {
  private var data = new Array[Byte](initialBytes)
  private var offsets = new Array[Int](initialCount + 1)
  private var n = 0
  private var pos = 0

  def count: Int = n
  /** Raw backing array (for zero-copy writes); valid up to reserve()d size. */
  def buffer: Array[Byte] = data

  /** Ensure capacity for len more bytes and return the write offset; caller
    * writes into `buffer` then calls commit(len).
    */
  def reserve(len: Int): Int = {
    if (pos + len > data.length) {
      var cap = data.length
      while (cap < pos + len) cap <<= 1
      data = java.util.Arrays.copyOf(data, cap)
    }
    pos
  }

  def commit(len: Int): Unit = {
    if (n + 1 >= offsets.length)
      offsets = java.util.Arrays.copyOf(offsets, offsets.length * 2)
    pos += len
    n += 1
    offsets(n) = pos
  }

  def add(bytes: Array[Byte]): Unit = add(bytes, 0, bytes.length)

  def add(src: Array[Byte], from: Int, len: Int): Unit = {
    val at = reserve(len)
    System.arraycopy(src, from, data, at, len)
    commit(len)
  }

  def result(): StrSlices = new StrSlices(data, offsets, n)

  def clear(): Unit = { n = 0; pos = 0; offsets(0) = 0 }
}
