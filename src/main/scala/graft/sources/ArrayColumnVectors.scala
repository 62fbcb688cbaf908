package graft.sources

import graft.codec.DecodedStrings
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Zero-copy ColumnVector views over a decoded chunk's typed arrays — the
  * codec output IS the vector; no per-value boxing, no buffer copy. These
  * serve a chunk whose column holds no NULL (its frame carries no validity
  * bitmap), so the null accessors are constant; a chunk with NULLs gets
  * the bitmap-backed variants below.
  */
private[sources] abstract class NonNullVector(dt: DataType) extends ColumnVector(dt) {
  final override def hasNull: Boolean = false
  final override def numNulls: Int = 0
  final override def isNullAt(i: Int): Boolean = false
  override def close(): Unit = ()
  private def nope = throw new UnsupportedOperationException(s"$dataType vector")
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
}

final class IntArrayVector(a: Array[Int]) extends NonNullVector(IntegerType) {
  override def getInt(i: Int): Int = a(i)
  override def getInts(rowId: Int, count: Int): Array[Int] =
    java.util.Arrays.copyOfRange(a, rowId, rowId + count)
}

final class DoubleArrayVector(a: Array[Double]) extends NonNullVector(DoubleType) {
  override def getDouble(i: Int): Double = a(i)
  override def getDoubles(rowId: Int, count: Int): Array[Double] =
    java.util.Arrays.copyOfRange(a, rowId, rowId + count)
}

/** Strings stay in the decoder's contiguous arena; getUTF8String is an
  * offset/length view into it (UTF8String.fromBytes does not copy).
  */
final class StringArenaVector(d: DecodedStrings) extends NonNullVector(StringType) {
  override def getUTF8String(i: Int): UTF8String =
    UTF8String.fromBytes(d.data, d.starts(i), d.lens(i))
  override def getBinary(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(d.data, d.starts(i), d.starts(i) + d.lens(i))
}

/** Nullable variants (the null extension): same zero-copy views plus the
  * chunk's validity bitmap from the frame (bit i set = row i NULL; the
  * decoded array holds a placeholder there). Chunks without nulls keep the
  * NonNullVector fast path — the reader picks per chunk.
  */
private[sources] abstract class BitmapNullVector(dt: DataType, bits: Array[Byte])
  extends ColumnVector(dt) {
  final override def hasNull: Boolean = true
  final override lazy val numNulls: Int = {
    var n = 0
    var i = 0
    while (i < bits.length) { n += java.lang.Integer.bitCount(bits(i) & 0xff); i += 1 }
    n
  }
  final override def isNullAt(i: Int): Boolean = ((bits(i >> 3) >> (i & 7)) & 1) == 1
  override def close(): Unit = ()
  private def nope = throw new UnsupportedOperationException(s"$dataType vector")
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
}

final class NullableIntArrayVector(a: Array[Int], bits: Array[Byte])
  extends BitmapNullVector(IntegerType, bits) {
  override def getInt(i: Int): Int = a(i)
}

final class NullableDoubleArrayVector(a: Array[Double], bits: Array[Byte])
  extends BitmapNullVector(DoubleType, bits) {
  override def getDouble(i: Int): Double = a(i)
}

final class NullableStringArenaVector(d: DecodedStrings, bits: Array[Byte])
  extends BitmapNullVector(StringType, bits) {
  override def getUTF8String(i: Int): UTF8String =
    if (isNullAt(i)) null else UTF8String.fromBytes(d.data, d.starts(i), d.lens(i))
  override def getBinary(i: Int): Array[Byte] =
    if (isNullAt(i)) null
    else java.util.Arrays.copyOfRange(d.data, d.starts(i), d.starts(i) + d.lens(i))
}
