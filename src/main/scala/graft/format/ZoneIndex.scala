package graft.format

import org.apache.hadoop.fs.Path

/** File-level zone index — the planning-time pruning sidecar
  * (`_btr_zones.bin`) for the raw block-file layout.
  *
  * The block frames carry per-CHUNK zone maps, which lets a reader skip
  * chunks without decoding blobs — but the reader still has to OPEN every
  * block file and stream its frame headers. At 100 TB (thousands of block
  * files) the next pruning level is per FILE: each write folds its chunks'
  * zones into one [min,max] per column and the driver persists them here,
  * so `BtrScan.planInputPartitions` drops whole files before a single task
  * launches. An absent, corrupt or other-version index → no file pruning
  * (chunk-level skipping, against CRC-checked frame zones, still applies).
  *
  * Binary layout (all little-endian, mirroring the frame zone payloads):
  *   [i32 magic "BTRZ"][u8 version=3][i32 nFiles]
  *   per file: [u16 nameLen][name utf8][i64 rows][u8 nCols]
  *     per col: [u8 kind][payload][i64 nullCount]
  *       kind 0: none (some chunk lacked a zone — conservative)
  *       kind 1: [i64 min][i64 max]          (long)
  *       kind 2: [i64 minBits][i64 maxBits]  (double)
  *       kind 3: [u8 len][bytes] x2          (UTF-8 string, each <= 64)
  *   [i32 CRC32C of every preceding byte]
  * Per-file row counts and per-column null totals let IsNull / IsNotNull
  * predicates drop whole files (nullCount == 0 / == rows). The CRC makes a
  * flipped byte a missing index rather than a zone that silently drops a
  * file holding matching rows.
  */
final case class ColZone(
    kind: Int,
    lmin: Long = 0L,
    lmax: Long = 0L,
    smin: Array[Byte] = Array.emptyByteArray,
    smax: Array[Byte] = Array.emptyByteArray,
    nullCount: Long = -1L, // total NULLs in this column across the file; -1 unknown
    rows: Long = -1L) // total rows in the file; -1 unknown

final case class FileZone(file: String, cols: IndexedSeq[ColZone])

object ZoneIndex {
  final val FileName = "_btr_zones.bin"
  final val Magic = 0x5a525442 // "BTRZ" little-endian
  final val Version = 3

  def toBytes(entries: Seq[FileZone]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >>> 8) }
    def i32(v: Int): Unit = { u8(v); u8(v >>> 8); u8(v >>> 16); u8(v >>> 24) }
    def i64(v: Long): Unit = { i32(v.toInt); i32((v >>> 32).toInt) }
    i32(Magic); u8(Version); i32(entries.length)
    entries.foreach { e =>
      val name = e.file.getBytes("UTF-8")
      require(name.length <= 0xffff, s"file name too long: ${e.file}")
      u16(name.length); out.write(name)
      i64(e.cols.headOption.map(_.rows).getOrElse(-1L))
      require(e.cols.length <= 255, s"${e.cols.length} columns > 255")
      u8(e.cols.length)
      e.cols.foreach { c =>
        u8(c.kind)
        c.kind match {
          case 0 => ()
          case 1 | 2 => i64(c.lmin); i64(c.lmax)
          case 3 =>
            require(c.smin.length <= 64 && c.smax.length <= 64, "string zone > 64 bytes")
            u8(c.smin.length); out.write(c.smin)
            u8(c.smax.length); out.write(c.smax)
        }
        i64(c.nullCount)
      }
    }
    val crc = new java.util.zip.CRC32C
    crc.update(out.toByteArray)
    i32(crc.getValue.toInt)
    out.toByteArray
  }

  def fromBytes(b: Array[Byte]): Seq[FileZone] = fromBytes(b, None)

  /** Parse, materializing only `needCols` columns' zone payloads (None =
    * all). Planning only ever consults the PREDICATE columns, so on a wide
    * schema the other columns' payloads (string extrema especially) are
    * skipped without allocation — they parse to kind 0 / unknown nulls,
    * which never prunes. Keeps planning-time cost proportional to
    * files × predicate-columns, not files × schema-width.
    */
  def fromBytes(b: Array[Byte], needCols: Option[Set[Int]]): Seq[FileZone] = {
    var p = 0
    def u8(): Int = { val v = b(p) & 0xff; p += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def i32(): Int = u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)
    def i64(): Long = (i32().toLong & 0xffffffffL) | (i32().toLong << 32)
    require(b.length >= 13 && i32() == Magic, "not a btr zone index")
    val v = u8()
    require(v == Version, s"unsupported zone index version $v")
    val crc = new java.util.zip.CRC32C
    crc.update(b, 0, b.length - 4)
    p = b.length - 4
    require(i32() == crc.getValue.toInt, "zone index checksum mismatch")
    p = 5
    val n = i32()
    val skipped = ColZone(0) // shared placeholder for unrequested columns
    (0 until n).map { _ =>
      val name = new Array[Byte](u16())
      System.arraycopy(b, p, name, 0, name.length); p += name.length
      val rows = i64()
      val nCols = u8()
      val cols = (0 until nCols).map { c =>
        val want = needCols.forall(_.contains(c))
        val z = u8() match {
          case 0 => if (want) ColZone(0) else skipped
          case k @ (1 | 2) =>
            if (want) ColZone(k, i64(), i64()) else { p += 16; skipped }
          case 3 =>
            if (want) {
              val mn = new Array[Byte](u8())
              System.arraycopy(b, p, mn, 0, mn.length); p += mn.length
              val mx = new Array[Byte](u8())
              System.arraycopy(b, p, mx, 0, mx.length); p += mx.length
              ColZone(3, smin = mn, smax = mx)
            } else {
              val lmn = u8(); p += lmn
              val lmx = u8(); p += lmx
              skipped
            }
          case k => sys.error(s"bad zone index kind $k")
        }
        val nulls = i64()
        if (want) z.copy(nullCount = nulls, rows = rows) else skipped
      }
      FileZone(new String(name, "UTF-8"), cols.toIndexedSeq)
    }
  }

  /** Atomic publish (dot-temp + rename-over), like the manifest. */
  def write(conf: org.apache.hadoop.conf.Configuration, dir: String, entries: Seq[FileZone]): Unit = {
    val path = new Path(dir, FileName)
    val tmp = new Path(dir, s".$FileName.tmp")
    val fs = path.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(toBytes(entries))
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(path.toUri, conf)
      fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(path)) fs.delete(path, false)
        fs.rename(tmp, path)
    }
  }

  /** Driver-side size guard: beyond this the sidecar is ignored (with a
    * warning) rather than parsed on every planning — pruning degrades to
    * the chunk level. ~10^6 files × a 10-column mixed schema is ~60-80 MB,
    * comfortably under it; a table large enough to trip the guard should
    * shard its zone index by directory (one btr dir per partition of the
    * table, each with its own sidecar).
    */
  final val MaxReadBytes: Long = 256L << 20

  /** None when the index is absent, unreadable, corrupt (checksum
    * mismatch), of another version or over the size guard — pruning
    * degrades to the chunk level, never to an error.
    */
  def read(conf: org.apache.hadoop.conf.Configuration, dir: String,
      needCols: Option[Set[Int]] = None,
      maxBytes: Long = MaxReadBytes): Option[Seq[FileZone]] = {
    val path = new Path(dir, FileName)
    try {
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) None
      else if (fs.getFileStatus(path).getLen > maxBytes) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"zone index $path is ${fs.getFileStatus(path).getLen} bytes (> $maxBytes): " +
            "ignoring it for planning — shard the table into per-partition btr dirs " +
            "to keep file-level pruning")
        None
      } else {
        val in = fs.open(path)
        val bytes = try in.readAllBytes() finally in.close()
        Some(fromBytes(bytes, needCols))
      }
    } catch { case _: Exception => None }
  }
}

/** Folds per-frame (chunk) zone maps into one file-level zone per column by
  * parsing frame headers from their serialized bytes — the single fold
  * implementation shared by every writer (RDD block writer, compressed
  * exchange reducer, DSv2 DataWriter). A column whose ANY chunk lacks a
  * zone folds to kind 0 (unprunable); null counts and row totals fold by
  * summation.
  *
  * The frame's headerCrc is VERIFIED before anything folds (round-4
  * advice #2): wrong file-level zones cause unsound planning-time pruning
  * (matching rows silently dropped), so layout drift or an in-memory
  * corruption degrades to `dead` — "no index entry", never wrong pruning.
  */
final class ZoneAccumulator {
  private var nCols = -1
  private var kind: Array[Int] = _
  private var lmin: Array[Long] = _
  private var lmax: Array[Long] = _
  private var smin: Array[Array[Byte]] = _
  private var smax: Array[Array[Byte]] = _
  private var nullSum: Array[Long] = _
  private var totalRows = 0L
  private var dead = false

  def fold(frame: Array[Byte]): Unit = {
    if (dead) return
    var p = 0
    def u8(): Int = { val v = frame(p) & 0xff; p += 1; v }
    def i32(): Int = u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)
    def i64(): Long = (i32().toLong & 0xffffffffL) | (i32().toLong << 32)
    val numRows = i32()
    val n = u8()
    val storedCrc = i32()
    val metaStart = p
    if (numRows <= 0 || n == 0) { dead = true; return }
    // parse pass 1: locate the meta section's end so the CRC can be checked
    // BEFORE any zone value is trusted
    try {
      var c = 0
      while (c < n) {
        p += 1 + 4 + 4 // colType, blobLen, blobCrc
        u8() match {
          case 0 => ()
          case 4 | 5 => p += 24 // min + max + sum
          case 3 =>
            // NOT `p += u8()`: the left operand of += is read before u8()
            // advances p, which would drop the length byte itself
            val lmn = u8(); p += lmn
            val lmx = u8(); p += lmx
          case _ => dead = true; return
        }
        val nulls = i32()
        if (nulls < 0 || nulls > numRows) { dead = true; return }
        if (nulls > 0) p += (numRows + 7) >> 3
        c += 1
      }
    } catch { case _: IndexOutOfBoundsException => dead = true; return }
    val crc = new java.util.zip.CRC32C
    crc.update(frame, 0, 5)
    crc.update(frame, metaStart, p - metaStart)
    if (crc.getValue.toInt != storedCrc) { dead = true; return }
    // parse pass 2: fold (meta verified)
    p = metaStart
    if (nCols < 0) {
      nCols = n
      kind = Array.fill(n)(-1)
      lmin = new Array[Long](n); lmax = new Array[Long](n)
      smin = new Array[Array[Byte]](n); smax = new Array[Array[Byte]](n)
      nullSum = new Array[Long](n)
    } else if (n != nCols) { dead = true; return }
    totalRows += numRows
    var c = 0
    while (c < n) {
      u8() // colType
      i32() // blobLen
      i32() // blobCrc
      u8() match {
        case 0 => kind(c) = 0
        case k0 @ (4 | 5) =>
          // numeric frame zones fold as the index's plain long (1) / double
          // (2) min/max (the file-level index stays sum-free; the agg
          // reader takes sums from the frame headers it streams anyway)
          val k = k0 - 3
          val mn = i64(); val mx = i64()
          i64() // discard the chunk sum
          if (kind(c) == -1) { kind(c) = k; lmin(c) = mn; lmax(c) = mx }
          else if (kind(c) == k) {
            if (k == 1) {
              if (mn < lmin(c)) lmin(c) = mn
              if (mx > lmax(c)) lmax(c) = mx
            } else {
              // double bits: total-order compare (zones never contain NaN;
              // keeps -0.0 < 0.0 exact, matching the chunk zones)
              if (java.lang.Double.compare(java.lang.Double.longBitsToDouble(mn),
                java.lang.Double.longBitsToDouble(lmin(c))) < 0) lmin(c) = mn
              if (java.lang.Double.compare(java.lang.Double.longBitsToDouble(mx),
                java.lang.Double.longBitsToDouble(lmax(c))) > 0) lmax(c) = mx
            }
          } else kind(c) = 0
        case 3 =>
          val mn = new Array[Byte](u8())
          System.arraycopy(frame, p, mn, 0, mn.length); p += mn.length
          val mx = new Array[Byte](u8())
          System.arraycopy(frame, p, mx, 0, mx.length); p += mx.length
          if (kind(c) == -1) { kind(c) = 3; smin(c) = mn; smax(c) = mx }
          else if (kind(c) == 3) {
            if (java.util.Arrays.compareUnsigned(mn, smin(c)) < 0) smin(c) = mn
            if (java.util.Arrays.compareUnsigned(mx, smax(c)) > 0) smax(c) = mx
          } else kind(c) = 0
        case _ => dead = true; return
      }
      val nulls = i32()
      nullSum(c) += nulls
      if (nulls > 0) p += (numRows + 7) >> 3 // skip the validity bitmap
      c += 1
    }
  }

  /** Folded zones (None only when no frame folded cleanly). Even an
    * all-kind-0 fold is useful now: the null/row totals alone let IsNull /
    * IsNotNull predicates drop the file.
    */
  def result(): Option[IndexedSeq[ColZone]] =
    if (dead || nCols < 0) None
    else Some((0 until nCols).map { c =>
      val base = kind(c) match {
        case 1 | 2 => ColZone(kind(c), lmin(c), lmax(c))
        case 3     => ColZone(3, smin = smin(c), smax = smax(c))
        case _     => ColZone(0)
      }
      base.copy(nullCount = nullSum(c), rows = totalRows)
    })
}
