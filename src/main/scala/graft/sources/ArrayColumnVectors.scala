package graft.sources

import graft.codec.DecodedStrings
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** THE decoded-column type: `FrameReader.decodeColumn` returns one per
  * column of a chunk, every reader and `ExactPred` leaf reads it, and it is
  * a zero-copy ColumnVector — the codec output IS the vector; no per-value
  * boxing, no buffer copy. `bits` is the chunk's validity bitmap from the
  * frame (bit i set = row i NULL; the decoded array holds a placeholder
  * there), or null when the column holds no NULL in this chunk (the frame
  * then carries no bitmap).
  *
  * Beyond ColumnVector's typed getters (each throws on the wrong type, as
  * do the string-arena accessors) a vector offers what the readers need
  * per row: `gather` (columnar compaction), `key` (the normalized group or
  * sort key: NULL at a NULL row, -0.0 as 0.0, every NaN as one NaN, strings
  * as zero-copy views) and `boxed` (the raw value: -0.0 kept, strings
  * copied off the arena).
  */
sealed abstract class ArrayVector(dt: DataType, bits: Array[Byte])
  extends ColumnVector(dt) {
  final override def hasNull: Boolean = bits != null
  final override lazy val numNulls: Int =
    if (bits == null) 0
    else bits.foldLeft(0)((n, b) => n + java.lang.Integer.bitCount(b & 0xff))
  final override def isNullAt(i: Int): Boolean =
    bits != null && ((bits(i >> 3) >> (i & 7)) & 1) == 1
  override def close(): Unit = ()

  /** Rows `sel(0 until m)` (ascending row ids) as a new vector of `m` rows;
    * its bitmap is null when none of them is NULL.
    */
  def gather(sel: Array[Int], m: Int): ArrayVector
  /** Row `i` as a group or sort key: null at a NULL row, Spark's
    * normalized double, a string viewing the arena (copy it to keep it).
    */
  def key(i: Int): AnyRef
  /** Row `i`'s raw value, boxed and owning its bytes (null at a NULL row). */
  def boxed(i: Int): AnyRef

  /** The bitmap of rows `sel(0 until m)`, or null when none is NULL. */
  protected final def gatherBits(sel: Array[Int], m: Int): Array[Byte] =
    if (bits == null) null
    else {
      val out = new Array[Byte]((m + 7) >> 3)
      var any = false
      var k = 0
      while (k < m) {
        if (isNullAt(sel(k))) {
          out(k >> 3) = (out(k >> 3) | (1 << (k & 7))).toByte
          any = true
        }
        k += 1
      }
      if (any) out else null
    }

  protected final def nope = throw new UnsupportedOperationException(s"$dataType vector")
  override def getBoolean(i: Int): Boolean = nope
  override def getByte(i: Int): Byte = nope
  override def getShort(i: Int): Short = nope
  override def getInt(i: Int): Int = nope
  override def getLong(i: Int): Long = nope
  override def getFloat(i: Int): Float = nope
  override def getDouble(i: Int): Double = nope
  override def getArray(i: Int): ColumnarArray = nope
  override def getMap(i: Int): ColumnarMap = nope
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal = nope
  override def getUTF8String(i: Int): UTF8String = nope
  override def getBinary(i: Int): Array[Byte] = nope
  override def getChild(i: Int): ColumnVector = nope
  /** A string column's arena: value i is `arena[start(i), end(i))`. */
  def arena: Array[Byte] = nope
  def start(i: Int): Int = nope
  def end(i: Int): Int = nope
}

object ArrayVector {
  /** Spark's normalized double: -0.0 is 0.0 and every NaN one NaN (how
    * Spark groups, sorts and compares floating keys).
    */
  @inline def normD(v: Double): Double =
    if (v == 0.0d) 0.0d else if (java.lang.Double.isNaN(v)) Double.NaN else v

  /** The order of `key`/`boxed` values of one column: ints, doubles by
    * `Double.compare` (NaN greatest; -0.0 below 0.0 unless normalized),
    * strings by unsigned bytes.
    */
  def compare(a: AnyRef, b: AnyRef): Int = a match {
    case s: UTF8String => s.binaryCompare(b.asInstanceOf[UTF8String])
    case c             => c.asInstanceOf[Comparable[AnyRef]].compareTo(b)
  }

  /** A key that owns its bytes: a string view is copied off its chunk's
    * arena, so a kept key never pins a chunk.
    */
  def detach(k: AnyRef): AnyRef = k match {
    case s: UTF8String => s.copy()
    case v             => v
  }
}

final class IntArrayVector(a: Array[Int], bits: Array[Byte] = null)
  extends ArrayVector(IntegerType, bits) {
  override def getInt(i: Int): Int = a(i)
  override def getInts(rowId: Int, count: Int): Array[Int] =
    java.util.Arrays.copyOfRange(a, rowId, rowId + count)
  def gather(sel: Array[Int], m: Int): ArrayVector = {
    val out = new Array[Int](m)
    var k = 0
    while (k < m) { out(k) = a(sel(k)); k += 1 }
    new IntArrayVector(out, gatherBits(sel, m))
  }
  def key(i: Int): AnyRef = boxed(i)
  def boxed(i: Int): AnyRef = if (isNullAt(i)) null else Int.box(a(i))
}

final class DoubleArrayVector(a: Array[Double], bits: Array[Byte] = null)
  extends ArrayVector(DoubleType, bits) {
  override def getDouble(i: Int): Double = a(i)
  override def getDoubles(rowId: Int, count: Int): Array[Double] =
    java.util.Arrays.copyOfRange(a, rowId, rowId + count)
  def gather(sel: Array[Int], m: Int): ArrayVector = {
    val out = new Array[Double](m)
    var k = 0
    while (k < m) { out(k) = a(sel(k)); k += 1 }
    new DoubleArrayVector(out, gatherBits(sel, m))
  }
  def key(i: Int): AnyRef = if (isNullAt(i)) null else Double.box(ArrayVector.normD(a(i)))
  def boxed(i: Int): AnyRef = if (isNullAt(i)) null else Double.box(a(i))
}

/** Strings stay in the decoder's contiguous arena; getUTF8String is an
  * offset/length view into it (UTF8String.fromBytes does not copy), and
  * null at a NULL row. A gathered vector shares the arena and copies only
  * offsets.
  */
final class StringArenaVector(d: DecodedStrings, bits: Array[Byte] = null)
  extends ArrayVector(StringType, bits) {
  override def getUTF8String(i: Int): UTF8String =
    if (isNullAt(i)) null else UTF8String.fromBytes(d.data, d.starts(i), d.lens(i))
  override def getBinary(i: Int): Array[Byte] = if (isNullAt(i)) null else d.copy(i)
  override def arena: Array[Byte] = d.data
  override def start(i: Int): Int = d.starts(i)
  override def end(i: Int): Int = d.starts(i) + d.lens(i)
  def gather(sel: Array[Int], m: Int): ArrayVector = {
    val st = new Array[Int](m)
    val ln = new Array[Int](m)
    var k = 0
    while (k < m) { st(k) = d.starts(sel(k)); ln(k) = d.lens(sel(k)); k += 1 }
    new StringArenaVector(new DecodedStrings(d.data, st, ln, m), gatherBits(sel, m))
  }
  def key(i: Int): AnyRef = getUTF8String(i)
  def boxed(i: Int): AnyRef = if (isNullAt(i)) null else UTF8String.fromBytes(d.copy(i))
}

/** A column's validity alone, from the frame header with no blob read:
  * what COUNT(col) consults on a chunk it must fold row by row. Only the
  * null accessors answer; every value read throws.
  */
final class ValidityVector(dt: DataType, bits: Array[Byte]) extends ArrayVector(dt, bits) {
  def gather(sel: Array[Int], m: Int): ArrayVector = new ValidityVector(dt, gatherBits(sel, m))
  def key(i: Int): AnyRef = nope
  def boxed(i: Int): AnyRef = nope
}
