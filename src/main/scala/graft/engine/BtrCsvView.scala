package graft.engine

import org.apache.spark.sql.{Row, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8

/** Random-access byte view over the CSV rendering of a btr table — the
  * reference's FUSE mount SEMANTICS re-expressed as a plain API instead of
  * an OS mount:
  *
  *  - S8 realtime (`/root/reference/src/mount/realtime_fs.rs:23-177`):
  *    `read(offset, size)` decompresses lazily through the streaming
  *    decode, keeps a bounded byte cache (`cacheLimit`, best-effort — a
  *    single read larger than the limit is still served whole, like the
  *    reference's range logic `:91-168`), and re-initializes the stream on
  *    a backward seek (`:101-112`); `size` is the optional precompute.
  *  - S7 one-shot (`oneshot_fs.rs:19-167`): `readAll()` materializes the
  *    whole rendering at once.
  *
  * Rendering is the `print-csv` text: one header line, comma-joined
  * values, '\n' terminators (a NULL renders as an empty cell, the inverse
  * of CSV ingest, whose reader takes an empty cell as NULL before
  * `BtrCsv.fromCsv` fills the defaults; values are NOT quoted — the
  * byte-view contract is positional, and parse-ability is only promised
  * for values free of ','/'\n', like the reference's plain renderer).
  * Row order is the
  * deterministic decode order,
  * pulled ONE Spark partition at a time via toLocalIterator — driver
  * memory stays bounded by (one partition's rows) + cache, never the
  * table.
  */
final class BtrCsvView(spark: SparkSession, dir: String, cacheLimit: Int = 8 << 20) {
  private val df = BtrTable.load(spark, dir)
  private val headerBytes = (df.columns.mkString(",") + "\n").getBytes(UTF_8)
  // one planned Row pipeline reused by every (re-)initialized stream
  private lazy val rowRdd = df.rdd

  // cache window: bytes [bufStart, bufStart + bufLen) of the rendering
  private var it: Iterator[Row] = _
  private var emitted = 0L // bytes rendered so far (== bufStart + bufLen)
  private var bufStart = 0L
  private var buf = new Array[Byte](math.max(cacheLimit, 1 << 16))
  private var bufLen = 0

  private var knownSize = -1L

  /** Rendered byte length of each Spark partition (lazy, one distributed
    * counting job). This is the backward-seek index: the reference's
    * realtime fs replays from row 0 on every backward seek
    * (its src/mount/realtime_fs.rs:117-124); here the scan's one partition
    * per block file lets a seek re-enter at the right partition, so a
    * backward read costs O(one partition), not O(table).
    */
  private var partLens: Array[Long] = _

  private def ensureIndex(): Unit = if (partLens == null) {
    val lens = rowRdd.mapPartitionsWithIndex { case (i, rows) =>
      var n = 0L
      rows.foreach(r => n += BtrCsv.renderRowCsv(r).getBytes(UTF_8).length + 1L)
      Iterator.single((i, n))
    }.collect()
    partLens = new Array[Long](rowRdd.getNumPartitions)
    lens.foreach { case (i, n) => partLens(i) = n }
  }

  /** Partition index the last backward re-init entered at (observable). */
  var lastReplayFrom: Int = 0

  /** (Re-)initialize the stream so it can serve bytes from `offset`: from
    * the top when the header is in range, else from the partition covering
    * `offset` (skipped partitions' tasks never pull a row, so their chunks
    * are never decoded).
    */
  private def resetStream(offset: Long): Unit = {
    if (offset <= headerBytes.length) {
      it = {
        val jit = df.toLocalIterator()
        new Iterator[Row] {
          def hasNext: Boolean = jit.hasNext
          def next(): Row = jit.next()
        }
      }
      emitted = 0L
      bufStart = 0L
      bufLen = 0
      lastReplayFrom = 0
      append(headerBytes)
    } else {
      ensureIndex()
      var p = 0
      var start = headerBytes.length.toLong
      while (p + 1 < partLens.length && start + partLens(p) <= offset) {
        start += partLens(p)
        p += 1
      }
      val p0 = p
      it = rowRdd.mapPartitionsWithIndex { case (i, rows) =>
        if (i >= p0) rows else Iterator.empty
      }.toLocalIterator
      emitted = start
      bufStart = start
      bufLen = 0
      lastReplayFrom = p0
    }
  }

  private def append(bytes: Array[Byte]): Unit = {
    if (bufLen + bytes.length > buf.length) {
      val grown = new Array[Byte](math.max(buf.length * 2, bufLen + bytes.length))
      System.arraycopy(buf, 0, grown, 0, bufLen)
      buf = grown
    }
    System.arraycopy(bytes, 0, buf, bufLen, bytes.length)
    bufLen += bytes.length
    emitted += bytes.length
  }

  private def renderRow(row: Row): Array[Byte] =
    (BtrCsv.renderRowCsv(row) + "\n").getBytes(UTF_8)

  /** Drop cache bytes before `keepFrom` once the window exceeds the cache
    * limit (best-effort bound: bytes at/after `keepFrom` are always kept).
    */
  private def evict(keepFrom: Long): Unit = {
    if (bufLen <= cacheLimit) return
    val dropTo = math.min(keepFrom, bufStart + bufLen - cacheLimit)
    val drop = (dropTo - bufStart).toInt
    if (drop > 0) {
      System.arraycopy(buf, drop, buf, 0, bufLen - drop)
      bufStart += drop
      bufLen -= drop
    }
  }

  /** Bytes [offset, offset+len) of the CSV rendering; shorter at EOF. */
  def read(offset: Long, len: Int): Array[Byte] = synchronized {
    require(offset >= 0 && len >= 0, s"bad range ($offset, $len)")
    if (it == null || offset < bufStart) resetStream(offset) // (backward) seek
    else if (offset > emitted) {
      // FORWARD seek (round-5): when the target lands in a partition whose
      // rendering starts beyond everything emitted so far, re-enter the
      // stream at that partition via the byte index instead of draining
      // every intermediate row through the driver (the reference's realtime
      // fs fills sequentially, realtime_fs.rs:117-124 — the index makes the
      // jump O(one partition)). A gap inside the current partition still
      // fills sequentially: re-entering would REWIND to the partition
      // start and decode more, not less. Sequential reads (offset ==
      // emitted) never reach here.
      ensureIndex()
      var p = 0
      var start = headerBytes.length.toLong
      while (p + 1 < partLens.length && start + partLens(p) <= offset) {
        start += partLens(p)
        p += 1
      }
      if (start > emitted) resetStream(offset)
    }
    val end = offset + len
    // && short-circuits: hasNext (which can launch the next partition's
    // collect job) is only probed while more bytes are actually needed
    while (emitted < end && it.hasNext) {
      append(renderRow(it.next()))
      evict(offset)
    }
    if (emitted < end && knownSize < 0) knownSize = emitted // loop ended on EOF
    val from = math.max(offset, bufStart)
    val to = math.min(end, bufStart + bufLen)
    if (to <= from) Array.emptyByteArray
    else java.util.Arrays.copyOfRange(buf, (from - bufStart).toInt, (to - bufStart).toInt)
  }

  /** Total rendered size (reference's optional size precompute) — from the
    * per-partition byte index (one distributed counting job, no driver-side
    * drain and nothing cached).
    */
  def size: Long = synchronized {
    if (knownSize < 0) {
      ensureIndex()
      knownSize = headerBytes.length + partLens.sum
    }
    knownSize
  }

  /** One-shot materialization (S7): the entire rendering as one array, in
    * a SINGLE decode pass (no eviction — unlike size() + read(0, n), which
    * would drop the prefix during the size drain and replay the stream).
    */
  def readAll(): Array[Byte] = synchronized {
    resetStream(0)
    while (it.hasNext) {
      append(renderRow(it.next()))
      require(emitted <= Int.MaxValue, s"one-shot view needs the whole rendering in memory")
    }
    knownSize = emitted
    java.util.Arrays.copyOf(buf, bufLen)
  }
}
