package graft.sources

import graft.codec._
import graft.engine.{BlockFiles, FrameHeader}
import graft.format.ColZone
import org.apache.hadoop.fs.Path

/** Low-level streaming reader of one btr block file: validates the file
  * header, then yields per-chunk frame headers (row count, per-column
  * types, blob lengths, one `ColZone` per column and the validity bitmaps)
  * with the blobs consumed on demand, and decodes a column's blob by its
  * type (`decodeColumn`, the ONE per-chunk decode). Every DSv2 reader
  * reads through `ChunkCursor`, the one chunk loop above it; tests and the
  * per-layer benchmark call it directly.
  *
  * Every read is wrapped with file + offset + chunk context: at 100 TB a
  * truncated or bit-flipped blob must name the bad block, not surface as a
  * bare EOFException from readFully (round-3 verdict #8).
  *
  * Only the current frame version (`BlockFiles.Version`) is read; any
  * other version is refused with a named error. Headers are parsed (and
  * their CRC verified) by `FrameHeader`, which maps the frame's zone kinds
  * (see the BlockFiles frame doc) onto `ColZone`: 0 none, 1 long, 2 double
  * (raw f64 bits), 3 string bytes, each numeric zone with the chunk's exact
  * NON-NULL `sum`.
  */
final class FrameReader(file: String, conf: org.apache.hadoop.conf.Configuration) {

  private val path = new Path(file)
  private val fs = path.getFileSystem(conf)
  private val fileLen = fs.getFileStatus(path).getLen
  private val in = fs.open(path)
  private var pos = 0L
  private var chunkIndex = -1
  private var h: FrameHeader.Header = _
  private var zs: IndexedSeq[ColZone] = IndexedSeq.empty
  private var nextBlob = 0

  // ---- the current chunk, valid after nextHeader() returns true
  def numRows: Int = h.numRows
  def nCols: Int = h.nCols
  def colType: Array[Int] = h.colType
  /** Per-column zones and null statistics (a unit's zones, as predicates
    * evaluate them); read one column through `zone`.
    */
  def zones: IndexedSeq[ColZone] = zs
  /** Per-column validity bitmaps (bit i set = row i NULL; null when the
    * column has no nulls).
    */
  def nullBits: Array[Array[Byte]] = h.nullBits
  /** Column `c`'s zone (`ColZone.of`: none beyond the chunk's width). */
  def zone(c: Int): ColZone = ColZone.of(zones, c)

  /** Where the reader is, for errors and cross-layer context. */
  def where: String = s"$file (chunk #$chunkIndex)"

  private def fail(msg: String, cause: Throwable = null): Nothing =
    throw new java.io.IOException(
      s"corrupt btr block file $file at offset $pos (chunk #$chunkIndex): $msg", cause)

  private def guarded[A](what: String)(f: => A): A =
    try f
    catch {
      case e: java.io.EOFException => fail(s"truncated while reading $what", e)
      case e: IllegalArgumentException => fail(s"$what: ${e.getMessage}", e)
      case e: IndexOutOfBoundsException => fail(s"$what: ${e.getMessage}", e)
    }

  /** The header parser's view of the file stream: guarded, positioned. */
  private val headerIn = new FrameHeader.In {
    private val b4 = new Array[Byte](4)
    def u8(what: String): Int = {
      val b = in.read()
      if (b < 0) fail(s"truncated while reading $what (end of file)")
      pos += 1
      b
    }
    def i32(what: String): Int = guarded(what) {
      in.readFully(b4)
      pos += 4
      (b4(0) & 0xff) | ((b4(1) & 0xff) << 8) | ((b4(2) & 0xff) << 16) | ((b4(3) & 0xff) << 24)
    }
    def bytes(n: Int, what: String): Array[Byte] = {
      if (pos + n > fileLen) fail(s"truncated while reading $what (end of file)")
      val b = new Array[Byte](n)
      guarded(what)(in.readFully(b))
      pos += n
      b
    }
    def fail(msg: String): Nothing = FrameReader.this.fail(msg)
  }

  locally {
    val hdr = new Array[Byte](5)
    guarded("file header")(in.readFully(hdr))
    val magic = (hdr(0) & 0xff) | ((hdr(1) & 0xff) << 8) | ((hdr(2) & 0xff) << 16) | ((hdr(3) & 0xff) << 24)
    if (magic != BlockFiles.Magic) fail(f"not a btr block file (magic 0x$magic%08x)")
    val v = hdr(4) & 0xff
    if (v != BlockFiles.Version) fail(s"unsupported btr block version $v")
    pos = 5
  }

  /** Parse the next chunk's frame header. False at a clean end of file. */
  def nextHeader(): Boolean = {
    if (pos >= fileLen) return false
    chunkIndex += 1
    h = FrameHeader.read(headerIn)
    zs = scala.collection.immutable.ArraySeq.unsafeWrapArray(h.zones)
    // catch truncation before any blob read: the declared blob bytes must
    // fit in the file
    val blobs = h.blobLen.foldLeft(0L)(_ + _)
    if (pos + blobs > fileLen)
      fail(s"chunk blobs ($blobs bytes) extend past end of file ($fileLen)")
    nextBlob = 0
    true
  }

  /** Read column `c`'s blob; preceding unread blobs are seeked over without
    * touching memory. Columns must be requested in ascending order. Blobs
    * are checksum-verified — a silent bit flip becomes a named error.
    */
  def readBlob(c: Int): Array[Byte] = {
    require(c >= nextBlob && c < nCols, s"blob $c out of order (next=$nextBlob, nCols=$nCols)")
    var skip = 0L
    var k = nextBlob
    while (k < c) { skip += h.blobLen(k); k += 1 }
    if (skip > 0) { guarded(s"seek past columns $nextBlob..${c - 1}")(in.seek(pos + skip)); pos += skip }
    val b = new Array[Byte](h.blobLen(c))
    guarded(s"column $c blob (${h.blobLen(c)} bytes)")(in.readFully(b))
    pos += h.blobLen(c)
    nextBlob = c + 1
    val bc = new java.util.zip.CRC32C
    bc.update(b)
    if (bc.getValue.toInt != h.blobCrc(c))
      fail(f"column $c blob checksum mismatch (stored 0x${h.blobCrc(c)}%08x, computed 0x${bc.getValue.toInt}%08x) — corrupt data")
    b
  }

  /** Read and decode column `c`'s blob by its column type: Array[Int],
    * Array[Double] or DecodedStrings (one arena, no per-string arrays).
    * NULL rows hold placeholders, masked by `nullBits(c)`. An unknown type
    * or a decoded count other than the frame's (CRC-covered) `numRows` is
    * a named corruption, so no reader folds or emits a short or long
    * column.
    */
  def decodeColumn(c: Int): AnyRef = {
    val blob = readBlob(c)
    val t = colType(c)
    val values: AnyRef =
      if (t == ColType.Integer.toInt) IntCodec.decode(blob)
      else if (t == ColType.Double.toInt) DoubleCodec.decode(blob)
      else if (t == ColType.String.toInt) StringCodec.decodeSlices(new BufReader(blob))
      else fail(s"unknown column type $t for column $c")
    val n = values match {
      case a: Array[Int]     => a.length
      case a: Array[Double]  => a.length
      case d: DecodedStrings => d.count
    }
    if (n != numRows) fail(s"column $c decoded $n values but the frame declares $numRows rows")
    values
  }

  /** Skip all remaining unread blobs of the current chunk. */
  def finishChunk(): Unit = {
    var skip = 0L
    var k = nextBlob
    while (k < nCols) { skip += h.blobLen(k); k += 1 }
    if (skip > 0) { guarded("seek past remaining blobs")(in.seek(pos + skip)); pos += skip }
    nextBlob = nCols
  }

  def close(): Unit = in.close()
}
