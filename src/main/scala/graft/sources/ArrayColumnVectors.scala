package graft.sources

import graft.codec.DecodedStrings
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Zero-copy ColumnVector views over a decoded chunk's typed arrays — the
  * codec output IS the vector; no per-value boxing, no buffer copy. `bits`
  * is the chunk's validity bitmap from the frame (bit i set = row i NULL;
  * the decoded array holds a placeholder there), or null when the column
  * holds no NULL in this chunk (the frame then carries no bitmap).
  */
private[sources] abstract class ArrayVector(dt: DataType, bits: Array[Byte])
  extends ColumnVector(dt) {
  final override def hasNull: Boolean = bits != null
  final override lazy val numNulls: Int =
    if (bits == null) 0
    else bits.foldLeft(0)((n, b) => n + java.lang.Integer.bitCount(b & 0xff))
  final override def isNullAt(i: Int): Boolean = ExactPred.isNull(bits, i)
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

final class IntArrayVector(a: Array[Int], bits: Array[Byte] = null)
  extends ArrayVector(IntegerType, bits) {
  override def getInt(i: Int): Int = a(i)
  override def getInts(rowId: Int, count: Int): Array[Int] =
    java.util.Arrays.copyOfRange(a, rowId, rowId + count)
}

final class DoubleArrayVector(a: Array[Double], bits: Array[Byte] = null)
  extends ArrayVector(DoubleType, bits) {
  override def getDouble(i: Int): Double = a(i)
  override def getDoubles(rowId: Int, count: Int): Array[Double] =
    java.util.Arrays.copyOfRange(a, rowId, rowId + count)
}

/** Strings stay in the decoder's contiguous arena; getUTF8String is an
  * offset/length view into it (UTF8String.fromBytes does not copy), and
  * null at a NULL row.
  */
final class StringArenaVector(d: DecodedStrings, bits: Array[Byte] = null)
  extends ArrayVector(StringType, bits) {
  override def getUTF8String(i: Int): UTF8String =
    if (isNullAt(i)) null else UTF8String.fromBytes(d.data, d.starts(i), d.lens(i))
  override def getBinary(i: Int): Array[Byte] =
    if (isNullAt(i)) null
    else java.util.Arrays.copyOfRange(d.data, d.starts(i), d.starts(i) + d.lens(i))
}
