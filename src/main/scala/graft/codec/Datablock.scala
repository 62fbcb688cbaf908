package graft.codec

/** In-memory compress/decompress API — parity with the reference's
  * Relation/Chunk/Datablock/Buffer surface
  * (/root/reference/src/btrblocks.rs:207-358): build typed columns, slice a
  * chunk, compress to a buffer, get stats, decompress, compare. Pure Scala,
  * unit-testable without Spark (SURVEY §2 E6/E7/D5/D6).
  */
sealed trait TypedColumn {
  def length: Int
}
final case class IntColumn(values: Array[Int]) extends TypedColumn {
  def length: Int = values.length
}
final case class DoubleColumn(values: Array[Double]) extends TypedColumn {
  def length: Int = values.length
}
final case class StringColumn(values: Array[Array[Byte]]) extends TypedColumn {
  def length: Int = values.length
}

/** A horizontal slice of typed columns — the compression unit
  * (reference Chunk, /root/reference/src/btrblocks.rs:257-273).
  */
final case class Chunk(columns: IndexedSeq[TypedColumn]) {
  require(columns.nonEmpty && columns.forall(_.length == columns.head.length),
    "all columns of a chunk must have the same tuple count")
  def tupleCount: Int = columns.head.length

  def inputBytes: Long = columns.map {
    case IntColumn(v)    => 4L * v.length
    case DoubleColumn(v) => 8L * v.length
    case StringColumn(v) => v.map(_.length.toLong).sum + 4L * v.length
  }.sum
}

/** A relation of named typed columns, sliceable into chunks by row ranges
  * (reference Relation, /root/reference/src/btrblocks.rs:207-255).
  */
final class Relation {
  private val cols = scala.collection.mutable.ArrayBuffer.empty[(String, TypedColumn)]

  def addColumnInt(name: String, values: Array[Int]): Relation = {
    cols += name -> IntColumn(values); this
  }
  def addColumnDouble(name: String, values: Array[Double]): Relation = {
    cols += name -> DoubleColumn(values); this
  }
  def addColumnString(name: String, values: Array[String]): Relation = {
    cols += name -> StringColumn(values.map(_.getBytes("UTF-8"))); this
  }

  def tupleCount: Long = if (cols.isEmpty) 0L else cols.head._2.length.toLong

  /** Slice rows [from, until) across all columns. */
  def chunk(from: Int, until: Int): Chunk = Chunk(cols.map {
    case (_, IntColumn(v))    => IntColumn(java.util.Arrays.copyOfRange(v, from, until))
    case (_, DoubleColumn(v)) => DoubleColumn(java.util.Arrays.copyOfRange(v, from, until))
    case (_, StringColumn(v)) => StringColumn(java.util.Arrays.copyOfRange(v, from, until))
  }.toIndexedSeq)

  /** All chunks of `blockSize` rows (reference get_num_chunks ceil-div,
    * /root/reference/src/ffi.rs:76).
    */
  def chunks(blockSize: Int): Seq[Chunk] = {
    val n = tupleCount.toInt
    (0 until math.max(1, (n + blockSize - 1) / blockSize))
      .map(i => chunk(i * blockSize, math.min(n, (i + 1) * blockSize)))
  }
}

/** Compression metrics — reference OutputBlockStats
  * (/root/reference/src/btrblocks.rs:328-346).
  */
final case class BlockStats(
    totalDataSize: Long,
    inputBytes: Long,
    schemePerColumn: IndexedSeq[String]) {
  def compressionRatio: Double =
    if (totalDataSize == 0) 0.0 else inputBytes.toDouble / totalDataSize
}

object Datablock {

  /** Compress every column of a chunk into one self-contained buffer.
    * Layout: [nCols:u8] then per column [type:u8][block]. Returns the
    * buffer and stats (reference Datablock::compress,
    * /root/reference/src/btrblocks.rs:299-326).
    */
  def compress(chunk: Chunk, cfg: BtrConfig = BtrConfig.default): (Array[Byte], BlockStats) = {
    val out = new BufWriter(1 << 16)
    out.u8(chunk.columns.length)
    val schemes = chunk.columns.map {
      case IntColumn(v) =>
        out.u8(ColType.Integer)
        IntCodec.schemeName(IntCodec.encode(out, v, 0, v.length, cfg.maxCascadeDepth, cfg))
      case DoubleColumn(v) =>
        out.u8(ColType.Double)
        DoubleCodec.schemeName(DoubleCodec.encode(out, v, 0, v.length, cfg.maxCascadeDepth, cfg))
      case StringColumn(v) =>
        out.u8(ColType.String)
        StringCodec.schemeName(StringCodec.encodeSlices(out, StrSlices.of(v), cfg.maxCascadeDepth, cfg))
    }
    val bytes = out.result()
    (bytes, BlockStats(bytes.length, chunk.inputBytes, schemes.toIndexedSeq))
  }

  /** Inverse of compress (reference Datablock::decompress,
    * /root/reference/src/btrblocks.rs:320-325).
    */
  def decompress(buffer: Array[Byte]): Chunk = {
    val in = new BufReader(buffer)
    val nCols = in.u8()
    val cols = (0 until nCols).map { _ =>
      in.u8() match {
        case t if t == ColType.Integer.toInt => IntColumn(IntCodec.decode(in))
        case t if t == ColType.Double.toInt  => DoubleColumn(DoubleCodec.decode(in))
        case t if t == ColType.String.toInt  => StringColumn(StringCodec.decode(in))
      }
    }
    Chunk(cols.toIndexedSeq)
  }

  /** Bit-equality of two chunks (reference Relation::compare_chunks,
    * /root/reference/src/btrblocks.rs:252-254) — doubles by raw bits.
    */
  def compareChunks(a: Chunk, b: Chunk): Boolean = {
    if (a.columns.length != b.columns.length) return false
    a.columns.zip(b.columns).forall {
      case (IntColumn(x), IntColumn(y)) => java.util.Arrays.equals(x, y)
      case (DoubleColumn(x), DoubleColumn(y)) =>
        x.length == y.length && x.indices.forall(i =>
          java.lang.Double.doubleToRawLongBits(x(i)) == java.lang.Double.doubleToRawLongBits(y(i)))
      case (StringColumn(x), StringColumn(y)) =>
        x.length == y.length && x.indices.forall(i => java.util.Arrays.equals(x(i), y(i)))
      case _ => false
    }
  }
}
