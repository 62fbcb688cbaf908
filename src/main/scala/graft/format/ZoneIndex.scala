package graft.format

import org.apache.hadoop.fs.Path

/** THE zone value: one column's statistics over one unit — a chunk (parsed
  * from its frame header by `FrameHeader`, built by `ChunkEncoder`) or a
  * file (folded by `ZoneAccumulator`, stored in the zone index). Extrema
  * cover the NON-NULL values only; string extrema are raw bytes compared
  * unsigned (Spark's binary collation), so they need not be valid UTF-8.
  */
final case class ColZone(
    kind: Int, // 0 none, 1 long, 2 double (raw f64 bits in lmin/lmax), 3 string bytes
    lmin: Long = 0L,
    lmax: Long = 0L,
    smin: Array[Byte] = Array.emptyByteArray,
    smax: Array[Byte] = Array.emptyByteArray,
    nullCount: Long = -1L, // NULLs in this column of the unit; -1 unknown
    rows: Long = -1L, // rows in the unit; -1 unknown
    // exact NON-NULL sum of a numeric chunk zone (doubles as raw f64 bits);
    // the index does not store it
    sum: Long = 0L)

/** A unit's zones are one `ColZone` per column (`IndexedSeq[ColZone]`): the
  * pushed predicates (`ExactPred.rejects`/`allMatch`) and the header-only
  * readers evaluate against this one shape at both pruning levels.
  */
object ColZone {
  /** No zone, unknown nulls: never rejects a unit, never proves a match. */
  val Unknown: ColZone = ColZone(0)

  /** Column `c` of a unit's zones — THE column-width guard: a column beyond
    * the unit's width has no zone and unknown nulls.
    */
  def of(zs: IndexedSeq[ColZone], c: Int): ColZone = if (c < zs.length) zs(c) else Unknown
}

final case class FileZone(file: String, cols: IndexedSeq[ColZone])

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
  *       kind 3: [u8 len][bytes] x2          (string bytes, each <= 64)
  *   [i32 CRC32C of every preceding byte]
  * Per-file row counts and per-column null totals let IsNull / IsNotNull
  * predicates drop whole files (nullCount == 0 / == rows). The CRC makes a
  * flipped byte a missing index rather than a zone that silently drops a
  * file holding matching rows.
  */
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
    val skipped = ColZone.Unknown // shared placeholder for unrequested columns
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
  def write(conf: org.apache.hadoop.conf.Configuration, dir: String, entries: Seq[FileZone]): Unit =
    graft.engine.BtrTable.publishFile(conf, dir, FileName, toBytes(entries))

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

/** Folds per-frame (chunk) zones into one file-level zone per column: each
  * frame's header is parsed by `FrameHeader` (which verifies its CRC) and
  * its `ColZone`s merge into the running fold — the single fold shared by
  * every writer (the DSv2 DataWriter and the compressed exchange's
  * `writeFrames`). A column whose ANY chunk lacks a zone folds to kind 0
  * (unprunable); null counts and row totals fold by summation; chunk sums
  * are not folded (the index stays sum-free).
  *
  * A frame that fails to parse or whose header CRC mismatches (layout drift
  * or an in-memory corruption) makes the fold `dead` — "no index entry",
  * never wrong file zones, which would prune files holding matching rows.
  */
final class ZoneAccumulator {
  private var acc: Array[ColZone] = _
  private var dead = false

  def fold(frame: Array[Byte]): Unit = if (!dead) {
    val h =
      try graft.engine.FrameHeader.read(graft.engine.FrameHeader.of(frame))
      catch { case _: java.io.IOException => null }
    if (h == null || (acc != null && h.nCols != acc.length)) dead = true
    else if (acc == null) acc = h.zones.map(_.copy(sum = 0L))
    else {
      var c = 0
      while (c < acc.length) { acc(c) = merge(acc(c), h.zones(c)); c += 1 }
    }
  }

  /** `a` ∪ `b` as a sum-free zone. Doubles compare in total order (zones
    * never contain NaN; keeps -0.0 < 0.0 exact, matching the chunk zones),
    * strings as unsigned bytes.
    */
  private def merge(a: ColZone, b: ColZone): ColZone = {
    val nulls = a.nullCount + b.nullCount
    val rows = a.rows + b.rows
    if (a.kind != b.kind) ColZone(0, nullCount = nulls, rows = rows)
    else a.kind match {
      case 1 => ColZone(1, math.min(a.lmin, b.lmin), math.max(a.lmax, b.lmax), nullCount = nulls, rows = rows)
      case 2 =>
        def d(bits: Long) = java.lang.Double.longBitsToDouble(bits)
        ColZone(2,
          if (java.lang.Double.compare(d(b.lmin), d(a.lmin)) < 0) b.lmin else a.lmin,
          if (java.lang.Double.compare(d(b.lmax), d(a.lmax)) > 0) b.lmax else a.lmax,
          nullCount = nulls, rows = rows)
      case 3 => ColZone(3,
        smin = if (java.util.Arrays.compareUnsigned(b.smin, a.smin) < 0) b.smin else a.smin,
        smax = if (java.util.Arrays.compareUnsigned(b.smax, a.smax) > 0) b.smax else a.smax,
        nullCount = nulls, rows = rows)
      case _ => ColZone(0, nullCount = nulls, rows = rows)
    }
  }

  /** Folded zones (None only when no frame folded cleanly). Even an
    * all-kind-0 fold is useful: the null/row totals alone let IsNull /
    * IsNotNull predicates drop the file.
    */
  def result(): Option[IndexedSeq[ColZone]] =
    if (dead || acc == null) None else Some(acc.toIndexedSeq)
}
