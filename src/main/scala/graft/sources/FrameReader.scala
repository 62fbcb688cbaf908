package graft.sources

import graft.codec._
import graft.engine.BlockFiles
import org.apache.hadoop.fs.Path

/** Low-level streaming parser for one btr block file: validates the file
  * header, then yields per-chunk frame headers (row count, per-column types,
  * blob lengths, parsed zone maps, null counts and validity bitmaps) with
  * the blobs consumed on demand, and decodes a column's blob by its type
  * (`decodeColumn`, the ONE per-chunk decode). Shared by the chunk cursor
  * of the scan readers and the aggregate reader.
  *
  * Every read is wrapped with file + offset + chunk context: at 100 TB a
  * truncated or bit-flipped blob must name the bad block, not surface as a
  * bare EOFException from readFully (round-3 verdict #8).
  *
  * Only the current frame version (`BlockFiles.Version`) is read; any
  * other version is refused with a named error. Zone kinds (see the
  * BlockFiles frame doc): 0 none, 3 string [u8 len][bytes] x2, 4/5 long /
  * double [min][max][exact NON-NULL sum]. The numeric kinds surface as
  * zKind 1 (long) / 2 (double, raw f64 bits in the long fields) — the kind
  * predicates dispatch on — with the chunk sum in zSumBits.
  */
final class FrameReader(file: String, conf: org.apache.hadoop.conf.Configuration) {

  private val path = new Path(file)
  private val fs = path.getFileSystem(conf)
  private val fileLen = fs.getFileStatus(path).getLen
  private val in = fs.open(path)
  private var pos = 0L
  private var chunkIndex = -1

  // ---- per-chunk state, valid after nextHeader() returns true
  var numRows = 0
  var nCols = 0
  var colType: Array[Int] = Array.empty
  var blobLen: Array[Int] = Array.empty
  var blobCrc: Array[Int] = Array.empty
  var zKind: Array[Int] = Array.empty
  var zLongMin: Array[Long] = Array.empty // long zones; double zones as raw bits
  var zLongMax: Array[Long] = Array.empty
  var zStrMin: Array[Array[Byte]] = Array.empty
  var zStrMax: Array[Array[Byte]] = Array.empty
  // exact per-chunk NON-NULL sum of a numeric zone (zKind 1/2): long sums
  // directly, double sums as raw f64 bits. A numeric column has a sum
  // exactly when it has a zone; zone-less chunks fall back to decode.
  var zSumBits: Array[Long] = Array.empty
  // per-column null count + validity bitmap (bit i set = row i NULL; null
  // array slot when the column has no nulls)
  var nullCount: Array[Int] = Array.empty
  var nullBits: Array[Array[Byte]] = Array.empty
  private var nextBlob = 0

  /** Where the reader is, for errors and cross-layer context. */
  def where: String = s"$file (chunk #$chunkIndex)"

  /** The CURRENT chunk's zones as a ZoneCtx (valid after nextHeader()) —
    * the dispatch view compound predicates evaluate against.
    */
  val zoneCtx: ZoneCtx = new ZoneCtx {
    def nCols: Int = FrameReader.this.nCols
    protected def zoneKind(c: Int): Int = zKind(c)
    protected def nulls(c: Int): Long = FrameReader.this.nullCount(c)
    def lmin(c: Int): Long = zLongMin(c)
    def lmax(c: Int): Long = zLongMax(c)
    def smin(c: Int): Array[Byte] = zStrMin(c)
    def smax(c: Int): Array[Byte] = zStrMax(c)
    def rows(c: Int): Long = numRows
  }

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

  // header checksum: every header byte read while `crcOn` feeds the CRC
  private val crc = new java.util.zip.CRC32C
  private var crcOn = false

  private def u8(what: String): Int = {
    val b = in.read()
    if (b < 0) fail(s"truncated while reading $what (end of file)")
    pos += 1
    if (crcOn) crc.update(b)
    b
  }

  private val b4 = new Array[Byte](4)
  private def i32(what: String): Int = guarded(what) {
    in.readFully(b4)
    pos += 4
    if (crcOn) crc.update(b4, 0, 4)
    (b4(0) & 0xff) | ((b4(1) & 0xff) << 8) | ((b4(2) & 0xff) << 16) | ((b4(3) & 0xff) << 24)
  }

  private def i64(what: String): Long =
    (i32(what).toLong & 0xffffffffL) | (i32(what).toLong << 32)

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
    // the header CRC covers the WHOLE header: numRows + nCols + meta
    crc.reset(); crcOn = true
    numRows = i32("chunk row count")
    if (numRows <= 0) fail(s"invalid chunk row count $numRows")
    nCols = u8("column count")
    if (nCols == 0) fail("zero columns in chunk")
    crcOn = false // the stored checksum never feeds itself
    val expectedHeaderCrc = i32("header checksum")
    if (colType.length < nCols) {
      colType = new Array[Int](nCols)
      blobLen = new Array[Int](nCols)
      blobCrc = new Array[Int](nCols)
      zKind = new Array[Int](nCols)
      zLongMin = new Array[Long](nCols)
      zLongMax = new Array[Long](nCols)
      zStrMin = new Array[Array[Byte]](nCols)
      zStrMax = new Array[Array[Byte]](nCols)
      zSumBits = new Array[Long](nCols)
      nullCount = new Array[Int](nCols)
      nullBits = new Array[Array[Byte]](nCols)
    }
    crcOn = true
    var blobs = 0L
    var c = 0
    while (c < nCols) {
      colType(c) = u8(s"column $c type")
      blobLen(c) = i32(s"column $c blob length")
      if (blobLen(c) < 0) fail(s"negative blob length ${blobLen(c)} for column $c")
      blobCrc(c) = i32(s"column $c blob checksum")
      blobs += blobLen(c)
      u8(s"column $c zone kind") match {
        case 0 => zKind(c) = 0
        case k @ (4 | 5) =>
          // numeric zone: presents to predicates as long (1) / double (2),
          // the sum rides alongside
          zKind(c) = k - 3
          zLongMin(c) = i64(s"column $c zone min")
          zLongMax(c) = i64(s"column $c zone max")
          zSumBits(c) = i64(s"column $c zone sum")
        case 3 =>
          zKind(c) = 3
          val mn = new Array[Byte](u8(s"column $c zone min length"))
          guarded(s"column $c zone min")(in.readFully(mn)); pos += mn.length
          crc.update(mn)
          val mx = new Array[Byte](u8(s"column $c zone max length"))
          guarded(s"column $c zone max")(in.readFully(mx)); pos += mx.length
          crc.update(mx)
          zStrMin(c) = mn
          zStrMax(c) = mx
        case k => fail(s"bad zoneKind $k for column $c")
      }
      nullCount(c) = i32(s"column $c null count")
      if (nullCount(c) < 0 || nullCount(c) > numRows)
        fail(s"invalid null count ${nullCount(c)} for column $c ($numRows rows)")
      if (nullCount(c) > 0) {
        val bm = new Array[Byte]((numRows + 7) >> 3)
        guarded(s"column $c validity bitmap")(in.readFully(bm)); pos += bm.length
        crc.update(bm)
        nullBits(c) = bm
      } else nullBits(c) = null
      c += 1
    }
    crcOn = false
    if (crc.getValue.toInt != expectedHeaderCrc)
      fail(f"frame header checksum mismatch (stored 0x$expectedHeaderCrc%08x, computed 0x${crc.getValue.toInt}%08x) — corrupt zone maps or column meta")
    // catch truncation before any blob read: the declared blob bytes must
    // fit in the file
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
    while (k < c) { skip += blobLen(k); k += 1 }
    if (skip > 0) { guarded(s"seek past columns $nextBlob..${c - 1}")(in.seek(pos + skip)); pos += skip }
    val b = new Array[Byte](blobLen(c))
    guarded(s"column $c blob (${blobLen(c)} bytes)")(in.readFully(b))
    pos += blobLen(c)
    nextBlob = c + 1
    val bc = new java.util.zip.CRC32C
    bc.update(b)
    if (bc.getValue.toInt != blobCrc(c))
      fail(f"column $c blob checksum mismatch (stored 0x${blobCrc(c)}%08x, computed 0x${bc.getValue.toInt}%08x) — corrupt data")
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
    while (k < nCols) { skip += blobLen(k); k += 1 }
    if (skip > 0) { guarded("seek past remaining blobs")(in.seek(pos + skip)); pos += skip }
    nextBlob = nCols
  }

  def close(): Unit = in.close()
}
