package graft.engine

import graft.codec.BtrConfig
import graft.format.{BtrManifest, ColZone, ColumnMeta, ColumnStat, CompressedPart, FileZone, ZoneAccumulator, ZoneIndex}
import graft.sources.BtrWrite
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.graftshim.ConfShim
import org.apache.hadoop.fs.Path

/** Raw binary block files — the Spark analog of the reference's on-disk
  * blob layout (`column{i}_part{j}` + `metadata`,
  * /root/reference/src/btrblocks.rs:668-672): each Spark partition writes
  * ONE blob file `blocks/part-NNNNN` holding its chunks, each chunk framed
  * with per-column byte lengths so a reader can skip (prune) columns
  * without decoding them. Schema/stats live in the same JSON manifest.
  *
  * Frame layout per chunk (format version 6, the only one written or
  * read):
  *   [i32 numRows][u8 nCols][i32 headerCrc]
  *   [per col: u8 colType, i32 blobLen, i32 blobCrc, u8 zoneKind,
  *    zone payload, i32 nullCount, validity bitmap (⌈numRows/8⌉ bytes,
  *    present iff nullCount > 0; bit i set = row i NULL)]
  *   [col blobs…]
  * zoneKind: 0 = none; 3 = string [u8 len][bytes][u8 len][bytes] (raw
  * bytes in unsigned order, valid UTF-8 or not; each ≤ 64 bytes — longer
  * extrema are dropped, not truncated); 4 = long [i64 min][i64 max]
  * [i64 sum]; 5 = double [f64bits min][f64bits max][f64bits sum]. A
  * numeric zone always carries the chunk's exact NON-NULL sum, so SUM(col)
  * folds from headers exactly like MIN/MAX/COUNT. With nulls present,
  * zones cover the NON-NULL values only (null rows store placeholders in
  * the blob and can never satisfy a comparison).
  *
  * In memory a column's zone, null count and row count are one `ColZone`
  * (kinds 1 long / 2 double / 3 string / 0 none, the zone index's kinds;
  * the frame's 4/5 add the sum): `ChunkEncoder` builds it, `zonePayload`
  * writes it and `FrameHeader` — the one header parser — reads it back.
  * The per-column zone maps let a reader skip whole chunks against pushed
  * range filters without touching their blobs — data skipping the
  * reference's scan lacks entirely (/root/reference/src/datafusion.rs:64-73).
  *
  * CHECKSUMS: blobCrc is CRC32C of that column's blob; headerCrc is CRC32C
  * over the WHOLE frame header — numRows, nCols and the per-column meta
  * section (zones + validity bitmaps), so a bit flip in numRows cannot feed
  * a silently wrong COUNT(*) through the header-only aggregate reader. At
  * 100 TB a flipped bit in a zone map would silently SKIP matching chunks
  * and a flipped blob byte would silently corrupt decoded values — the CRCs
  * turn both into a contextual error. A reader verifies exactly what it
  * touches: the header always, each blob only when actually read
  * (pruned/skipped bytes stay unread).
  *
  * File header: "BTRS" magic + u8 version.
  */
object BlockFiles {
  final val Magic = 0x53525442 // "BTRS" little-endian
  final val Version = 6

  /** One encoded chunk as a self-contained frame plus its per-column stats
    * (one chunk each) — the unit that the compressed range exchange
    * shuffles (a frame is ~ratio× smaller than the rows it encodes).
    */
  final case class Frame(bytes: Array[Byte], numRows: Int, cols: Array[ColumnStat])

  /** One block file's write result, and the task commit message of the
    * DSv2 writers: rows, the file-level zone fold (None when any chunk
    * lacked a zone for every column) and the per-column stats fold (empty
    * when the task wrote no chunk).
    */
  final case class BlockWriteStat(
      pid: Int, numRows: Long,
      zones: Option[IndexedSeq[graft.format.ColZone]],
      cols: IndexedSeq[ColumnStat] = IndexedSeq.empty)
    extends WriterCommitMessage {
    def rawBytes: Long = cols.map(_.rawBytes).sum
    def encBytes: Long = cols.map(_.encBytes).sum
  }

  /** Serialize one chunk's column parts into a frame (CRC'd, nullable). */
  def frameChunk(chunkParts: Seq[CompressedPart]): Frame = {
    var size = 4 + 1 + 4 // numRows, nCols, headerCrc
    val zones = new Array[Array[Byte]](chunkParts.length)
    var i = 0
    chunkParts.foreach { p =>
      zones(i) = zonePayload(p.zone) // includes its leading zoneKind byte
      size += 1 + 4 + 4 + zones(i).length + 4 + p.bytes.length
      if (p.zone.nullCount > 0) size += (p.numRows + 7) >> 3
      i += 1
    }
    val out = new Array[Byte](size)
    var o = 0
    def u8(v: Int): Unit = { out(o) = v.toByte; o += 1 }
    def i32(v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte
      out(o + 2) = (v >>> 16).toByte; out(o + 3) = (v >>> 24).toByte
      o += 4
    }
    val numRows = chunkParts.head.numRows
    i32(numRows)
    u8(chunkParts.length)
    val crcSlot = o
    i32(0) // headerCrc patched below
    val metaStart = o
    i = 0
    chunkParts.foreach { p =>
      u8(p.colType)
      i32(p.bytes.length)
      val bc = new java.util.zip.CRC32C
      bc.update(p.bytes)
      i32(bc.getValue.toInt)
      val z = zones(i)
      System.arraycopy(z, 0, out, o, z.length)
      o += z.length
      val nulls = p.zone.nullCount.toInt
      i32(nulls)
      if (nulls > 0) {
        val bm = p.nullBits
        val want = (numRows + 7) >> 3
        require(bm != null && bm.length == want,
          s"column ${p.colName}: nullCount=$nulls but bitmap is " +
            s"${if (bm == null) "absent" else s"${bm.length} bytes"} (want $want)")
        System.arraycopy(bm, 0, out, o, bm.length)
        o += bm.length
      }
      i += 1
    }
    // headerCrc covers the frame from its first byte — numRows + nCols +
    // the whole meta section
    val hc = new java.util.zip.CRC32C
    hc.update(out, 0, 5)
    hc.update(out, metaStart, o - metaStart)
    val hv = hc.getValue.toInt
    out(crcSlot) = hv.toByte
    out(crcSlot + 1) = (hv >>> 8).toByte
    out(crcSlot + 2) = (hv >>> 16).toByte
    out(crcSlot + 3) = (hv >>> 24).toByte
    chunkParts.foreach { p =>
      System.arraycopy(p.bytes, 0, out, o, p.bytes.length)
      o += p.bytes.length
    }
    require(o == size, s"frame size mismatch: wrote $o of $size")
    Frame(out, numRows, chunkParts.map(p =>
      ColumnStat(p.rawBytes, p.bytes.length, 1L, p.numRows, Seq(p.scheme))).toArray)
  }

  /** [u8 zoneKind][payload] of one column's zone (see frame doc above). */
  private def zonePayload(z: ColZone): Array[Byte] = z.kind match {
    case 1 | 2 =>
      val b = new Array[Byte](25)
      b(0) = (z.kind + 3).toByte // frame kinds 4/5 carry the sum
      var o = 1
      Seq(z.lmin, z.lmax, z.sum).foreach { v0 =>
        var v = v0
        var k = 0
        while (k < 8) { b(o) = v.toByte; v >>>= 8; o += 1; k += 1 }
      }
      b
    case 3 =>
      require(z.smin.length <= 64 && z.smax.length <= 64, "string zone > 64 bytes")
      Array[Byte](3, z.smin.length.toByte) ++ z.smin ++ Array(z.smax.length.toByte) ++ z.smax
    case _ => Array[Byte](0)
  }

  /** Encode `df` and write raw block files + manifest to `dir`, replacing
    * any table there; returns the published manifest.
    *
    * Every shape stages its block files and publishes through BtrWrite's
    * commit (see BtrWriteSupport): the old table stays readable for the
    * whole write, and a failed write leaves it intact.
    *
    * `rangeCols` adds a range exchange for locality. Two shapes:
    *  - `compressedExchange = false`: the DSv2 writer
    *    (`df.write.format("btr")`). With `rangeCols`, Spark plans a range
    *    exchange of the RAW rows over `numPartitions` writers (default
    *    spark.sql.shuffle.partitions) and a local sort, salted by
    *    `__salt = pmod(hash(all columns), 16)` so a hot key's rows spread
    *    over several writers; the salt is dropped before encoding. Rows of
    *    one key range land in one chunk → tightest zone maps, best ratio.
    *    Without `rangeCols` each input partition writes one block file.
    *  - `compressedExchange = true`: sort rows WITHIN each input partition,
    *    encode chunks map-side, then range-exchange the COMPRESSED frames
    *    on each chunk's first-row key. At ratio ~4× the shuffle moves ~4×
    *    fewer bytes — the bulk-ingest shape for a 100 TB run, where the
    *    exchange of raw strings (not the encode CPU) is the scaling
    *    bottleneck. Clustering is chunk-granular instead of row-granular.
    */
  def write(
      df: DataFrame,
      dir: String,
      cfg: BtrConfig = BtrConfig.default,
      rangeCols: Seq[String] = Nil,
      compressedExchange: Boolean = false,
      numPartitions: Int = 0): BtrManifest = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    if (rangeCols.nonEmpty && compressedExchange)
      writeCompressedExchange(df, dir, cfg, rangeCols, n)
    else {
      val writer =
        if (rangeCols.isEmpty) df.write
        else df.withColumn("__salt", pmod(hash(df.columns.map(col): _*), lit(16))).write
          .option("rangeCols", rangeCols.mkString(","))
          .option("saltCols", "__salt")
          .option("numPartitions", n.toLong)
      writer.format("btr").mode("overwrite")
        .option("blockSize", cfg.blockSize.toLong)
        .option("maxCascadeDepth", cfg.maxCascadeDepth.toLong)
        .option("maxChunkBytes", cfg.maxChunkBytes)
        .save(dir)
    }
    BtrTable.readManifest(spark, dir)
  }

  /** Publish a written table: the file-level zone index first, the manifest
    * (the publish marker readers gate on) last, with totals and per-column
    * stats summed over the block files' write results. Shared by the DSv2
    * batch commit and each streaming epoch commit.
    */
  private[graft] def publish(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      colTypes: Array[Int],
      cfg: BtrConfig,
      stats: Seq[BlockWriteStat]): BtrManifest = {
    val written = stats.filter(_.numRows > 0)
    val entries = written.collect {
      case s if s.zones.isDefined => FileZone(f"part-${s.pid}%05d", s.zones.get)
    }
    if (entries.nonEmpty)
      ZoneIndex.write(spark.sparkContext.hadoopConfiguration, dir, entries)
    val m = BtrManifest(
      columns = schema.fields.zip(colTypes).map { case (f, t) => ColumnMeta(f.name, t, f.nullable) }.toSeq,
      numPartitions = written.length,
      blockSize = cfg.blockSize,
      maxCascadeDepth = cfg.maxCascadeDepth,
      numRows = written.map(_.numRows).sum,
      rawBytes = written.map(_.rawBytes).sum,
      encBytes = written.map(_.encBytes).sum,
      completedPartitions = Seq(0),
      columnStats = written.map(_.cols).reduceOption((a, b) => a.zip(b).map { case (x, y) => x + y })
        .getOrElse(colTypes.toSeq.map(_ => ColumnStat(0L, 0L, 0L, 0L, Nil))))
    BtrTable.writeManifest(spark, dir, m)
    m
  }

  /** Map-side encode + compressed range exchange (see write() doc).
    *
    * Each chunk travels as ONE frame record keyed by an order-preserving
    * binary encoding of its first row's `rangeCols` values plus a per-chunk
    * round-robin salt byte (a hot key's chunks spread over 16 writers
    * instead of serializing one). The shuffle sorts each writer's frames
    * by that key (Spark's sorter, which spills), so a writer's file holds
    * its chunks in key order whatever order the input splits arrive in;
    * the writer task then just concatenates them — no re-encode, so the
    * reduce side is pure sequential IO.
    *
    * SINGLE-PASS (round-6, guide §2.4): range bounds come from a cheap
    * up-front stride-sample of ONLY the key columns (a few thousand rows
    * per input split, early-terminated), so the heavy encode runs exactly
    * once and its frames flow straight into the shuffle — the former
    * repartitionByRange needed a persist of every compressed frame
    * (~input/ratio bytes written to and re-read from the block-manager)
    * plus a full sampling pass over the persisted frames, two extra stage
    * barriers whose fixed cost capped 2->8-core scaling at ~0.67
    * (round 6: 3.5 s of non-encode stages at 2 cores, 2.5 s at 8).
    * Bounds quality only affects file-size balance, never correctness:
    * every frame lands in exactly one partition whatever the bounds say.
    */
  private def writeCompressedExchange(
      df: DataFrame,
      dir: String,
      cfg: BtrConfig,
      rangeCols: Seq[String],
      n: Int): Unit = {
    // local sort: clusters each input split's rows by key before chunking,
    // so map-side chunks are key-coherent (ratio and zone quality close to
    // the row exchange) without shuffling a single raw byte
    val prepared = df.sortWithinPartitions(rangeCols.map(col): _*)
    val schema = prepared.schema
    val colTypes = BtrEncoder.validateSchema(schema)
    val keyIdx = rangeCols.map { c =>
      val i = schema.fieldNames.indexOf(c)
      require(i >= 0, s"range column '$c' not in schema")
      i
    }.toArray

    // Writer width stays the configured shuffle width: with chunk-granular
    // frames (~8 MB each here) MORE bins place the frames more evenly —
    // a measured 27-writer variant (one per ~48 MB of input) lost 0.8 s to
    // its straggler tail at 8 cores versus 64 small writers. File sizing
    // for the QUERY scratch tables is handled by the caller's
    // numPartitions; this pipeline's writer files are bulk-ingest output.

    // Bounds sample over the CHUNK-START key distribution, not the row
    // distribution: a frame's shuffle key is its sorted partition's
    // (chunkIdx × blockSize)-th smallest key, so with few chunks per
    // partition every frame key sits at its partition's minimum — row-
    // quantile bounds would send every frame to one writer (measured:
    // 753 MB into a single reduce task). Per input split this job scans
    // ONLY the key columns, keeps a deterministic stride sample, sorts it,
    // and emits the estimated key at each chunk-start quantile position
    // with that chunk's true round-robin salt — reproducing the (key,
    // salt) pairs the encode will emit. Byte-budget-closed chunks
    // (maxChunkBytes) make the estimate coarser; bounds quality only
    // affects file-size balance, never correctness. Every split is scanned:
    // with ~one chunk per split the emitted keys ARE the minimum viable
    // sample (a measured 16-of-96-split stride variant yielded duplicate
    // bounds, piled frames into few writers and lost ~0.8 s to the
    // straggler tail — more than the sampling saved).
    val keyDf = df.selectExpr(rangeCols: _*)
    val kTypes = BtrEncoder.validateSchema(keyDf.schema)
    val kIdx = Array.tabulate(rangeCols.length)(identity)
    val blockRows = cfg.blockSize
    val keyRdd = keyDf.queryExecution.toRdd
    val numSplits = keyRdd.getNumPartitions
    val samples: Array[Array[Byte]] = keyRdd.mapPartitions { it =>
      val keys = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var stride = 1L
      var i = 0L
      while (it.hasNext) {
        val r = it.next()
        if (i % stride == 0) {
          keys += BtrEncoder.encodeRangeKey(r, kIdx, kTypes)
          if (keys.length >= 2048) { // halve (keeps a stride sample), double stride
            val kept = keys.zipWithIndex.collect { case (k, j) if j % 2 == 0 => k }
            keys.clear(); keys ++= kept
            stride *= 2
          }
        }
        i += 1
      }
      if (keys.isEmpty) Iterator.empty
      else {
        val sorted = keys.toArray.sorted(UnsignedBytes)
        val nChunks = math.max(1L, (i + blockRows - 1) / blockRows)
        val emit = boundsEmission(nChunks, numSplits)
        Iterator.tabulate(emit) { e =>
          val ci = e.toLong * nChunks / emit
          val pos = math.min(sorted.length - 1,
            (ci * blockRows * sorted.length / math.max(1L, i)).toInt)
          sorted(pos) :+ ((ci % 16).toByte)
        }
      }
    }.collect()
    val extended = samples.sorted(UnsignedBytes)
    val bounds: Array[Array[Byte]] =
      if (extended.isEmpty) Array.empty
      else Array.tabulate(n - 1) { j => extended(((j + 1).toLong * extended.length / n).toInt) }
    val partitioner = new BinaryRangePartitioner(n, bounds)

    val keyed = prepared.queryExecution.toRdd.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val enc = new BtrEncoder.PartitionEncodeIterator(
          rows, schema, colTypes, cfg, keyIdx)
        enc.grouped(schema.length).zipWithIndex.map { case (chunkParts, ci) =>
          // key captured from the chunk's FIRST row before its buffers were
          // reused (PartitionEncodeIterator.chunkKey)
          (enc.chunkKey(ci) :+ (ci % 16).toByte, frameChunk(chunkParts))
        }
      }
    }
    // frames go to the DSv2 writer's staging directory and publish through
    // its commit; any failure drops them and leaves the old table intact
    val write = new BtrWrite(dir, schema, cfg, rangeCols, truncate = true)
    val blocksDir = write.stage()
    val confB = ConfShim.broadcast(df.sparkSession.sparkContext)
    try {
      implicit val keyOrder: Ordering[Array[Byte]] = UnsignedBytes
      val stats: Array[WriterCommitMessage] =
        keyed.repartitionAndSortWithinPartitions(partitioner).mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            val tc = TaskContext.get()
            Iterator.single[WriterCommitMessage](writeFrames(
              ConfShim.conf(confB), blocksDir, tc.partitionId(), tc.taskAttemptId(), it.map(_._2)))
          }
        }.collect()
      write.commit(stats)
    } catch {
      case e: Throwable =>
        write.abort(Array.empty)
        throw e
    }
  }

  /** Key budget of the compressed exchange's bounds sample. */
  final val KeyBudget = 1 << 14

  /** Keys one input split of `nChunks` estimated chunks emits to the bounds
    * sample: one per chunk start, at most 64, and at most the split's
    * share of `KeyBudget` (but at least one), so the sample holds at most
    * max(KeyBudget, numSplits) keys however many splits the input has.
    */
  def boundsEmission(nChunks: Long, numSplits: Int): Int =
    math.min(nChunks, math.min(64L, math.max(1L, KeyBudget.toLong / math.max(1, numSplits)))).toInt

  /** Unsigned-lexicographic order of the binary range keys. */
  object UnsignedBytes extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = java.util.Arrays.compareUnsigned(a, b)
  }

  /** Range partitioner over the order-preserving binary keys
    * (BtrEncoder.encodeRangeKey): partition = count of bounds ≤ key under
    * unsigned-lexicographic order, found by binary search.
    */
  final class BinaryRangePartitioner(
      partitions: Int, bounds: Array[Array[Byte]]) extends org.apache.spark.Partitioner {
    require(bounds.length < partitions, s"${bounds.length} bounds for $partitions partitions")
    override def numPartitions: Int = partitions
    override def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[Array[Byte]]
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (java.util.Arrays.compareUnsigned(bounds(m), k) <= 0) lo = m + 1 else hi = m
      }
      lo
    }
  }

  /** One task attempt's block-file write (factored out so the retry
    * semantics are unit-testable without Spark's retry machinery).
    * Returns the stats + folded file-level zones of the bytes THIS attempt
    * encoded; the committed file is whichever attempt renamed first (same
    * deterministic content).
    */
  def writeFrames(
      conf: org.apache.hadoop.conf.Configuration,
      blocksDir: String,
      pid: Int,
      attemptId: Long,
      frames: Iterator[Frame]): BlockWriteStat = {
    val w = new BlockFileWriter(conf, blocksDir, pid, attemptId)
    try { frames.foreach(w.append); w.commit() }
    finally w.close()
  }

  /** One task attempt's block file, fed a frame at a time: the file is
    * created under an attempt-unique temp name with the first frame (an
    * empty partition writes no file), each frame is folded into the zone
    * and per-column stats, and `commit` renames the file into place if
    * absent. `close` drops an uncommitted temp file. Shared by writeFrames
    * and the push-shaped DSv2 DataWriter. `blocksDir` must exist: the file
    * is created without parent dirs, so a task that outlives its job's
    * abort fails instead of re-creating the dir the abort deleted.
    */
  private[graft] final class BlockFileWriter(
      conf: org.apache.hadoop.conf.Configuration,
      blocksDir: String,
      pid: Int,
      attemptId: Long) {
    private val fs = new Path(blocksDir).getFileSystem(conf)
    // a local checksum layer checks the parent and then creates the file
    // and its .crc with parent dirs, so a dir deleted in between comes
    // back: block files (their frames carry their own CRCs) are created
    // on the raw file system beneath it
    private val rawFs = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    private val finalPath = new Path(blocksDir, f"part-$pid%05d")
    private val tmpPath = new Path(blocksDir, f".tmp-part-$pid%05d-attempt-$attemptId")
    private var out: org.apache.hadoop.fs.FSDataOutputStream = _
    private var numRows = 0L
    private val zoneAcc = new ZoneAccumulator
    private var cols: Array[ColumnStat] = Array.empty

    def append(f: Frame): Unit = {
      if (out == null) {
        import org.apache.hadoop.fs.CreateFlag
        import org.apache.hadoop.fs.permission.FsPermission
        out = rawFs.createNonRecursive(tmpPath,
          FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          conf.getInt("io.file.buffer.size", 4096), rawFs.getDefaultReplication(tmpPath),
          rawFs.getDefaultBlockSize(tmpPath), null)
        out.write(Array[Byte](
          (Magic & 0xff).toByte, ((Magic >>> 8) & 0xff).toByte,
          ((Magic >>> 16) & 0xff).toByte, ((Magic >>> 24) & 0xff).toByte,
          Version.toByte))
      }
      out.write(f.bytes)
      zoneAcc.fold(f.bytes)
      cols = if (cols.isEmpty) f.cols else cols.zip(f.cols).map { case (a, b) => a + b }
      numRows += f.numRows
    }

    def commit(): BlockWriteStat = {
      if (out != null) {
        out.close()
        out = null
        if (!commitRename(conf, fs, tmpPath, finalPath))
          sys.error(s"could not commit $tmpPath -> $finalPath")
      }
      BlockWriteStat(pid, numRows, zoneAcc.result(), cols.toIndexedSeq)
    }

    def close(): Unit = {
      if (out != null) {
        try out.close() catch { case _: java.io.IOException => () }
        out = null
      }
      if (fs.exists(tmpPath)) fs.delete(tmpPath, false)
    }
  }

  /** Commit via rename-if-absent: FileContext's default rename FAILS when
    * the destination exists, so the first attempt wins (atomic on
    * HDFS-like stores, where plain FileSystem.rename-over-existing would
    * let a later speculative attempt replace a committed file). Schemes
    * without an AbstractFileSystem binding fall back to a checked rename;
    * the residual race there is local-FS only, where rename is an atomic
    * in-place replace of one complete valid encode by another and open
    * readers keep their inode. Returns true when a committed file exists
    * (whether from this attempt or an earlier winner).
    */
  def commitRename(
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      tmpPath: Path,
      finalPath: Path): Boolean =
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(finalPath.toUri, conf)
      try { fc.rename(tmpPath, finalPath); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => true // other attempt won
      }
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // check-then-rename fallback: NOT atomic-if-absent. Flag it so a
        // deployment on a scheme lacking a FileContext binding notices
        // it is relying on rename-over-existing atomicity.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"no AbstractFileSystem for ${finalPath.toUri.getScheme}: " +
            "falling back to check-then-rename commit (requires atomic rename semantics)")
        if (fs.exists(finalPath)) true
        else fs.rename(tmpPath, finalPath) || fs.exists(finalPath)
    }
}

/** THE frame-header parser (layout: the `BlockFiles` doc): per column the
  * type, blob length and CRC, the zone, the null count and the validity
  * bitmap, as one `ColZone` per column. It verifies the header CRC before
  * returning, so no caller ever sees an unverified zone. The frame reader
  * feeds it from its guarded file stream; the zone fold feeds it a
  * serialized frame (`of`).
  */
object FrameHeader {

  /** The header's bytes, read in order. Each read names its field, so a
    * short read surfaces as a named corruption; `fail` raises one.
    */
  trait In {
    def u8(what: String): Int
    def i32(what: String): Int
    def bytes(n: Int, what: String): Array[Byte]
    def fail(msg: String): Nothing
  }

  /** One parsed, CRC-verified frame header. `nullBits(c)` is null when
    * column c has no nulls; each zone's `rows` is `numRows`.
    */
  final class Header(
      val numRows: Int,
      val colType: Array[Int],
      val blobLen: Array[Int],
      val blobCrc: Array[Int],
      val zones: Array[ColZone],
      val nullBits: Array[Array[Byte]]) {
    def nCols: Int = zones.length
  }

  def read(in: In): Header = {
    // every header byte except the stored checksum feeds the CRC
    val crc = new java.util.zip.CRC32C
    def u8(what: String): Int = { val v = in.u8(what); crc.update(v); v }
    def i32(what: String): Int = {
      val v = in.i32(what)
      crc.update(v); crc.update(v >>> 8); crc.update(v >>> 16); crc.update(v >>> 24)
      v
    }
    def i64(what: String): Long = (i32(what).toLong & 0xffffffffL) | (i32(what).toLong << 32)
    def bytes(n: Int, what: String): Array[Byte] = { val b = in.bytes(n, what); crc.update(b); b }

    val numRows = i32("chunk row count")
    if (numRows <= 0) in.fail(s"invalid chunk row count $numRows")
    val nCols = u8("column count")
    if (nCols == 0) in.fail("zero columns in chunk")
    val stored = in.i32("header checksum")
    val h = new Header(numRows, new Array[Int](nCols), new Array[Int](nCols), new Array[Int](nCols),
      new Array[ColZone](nCols), new Array[Array[Byte]](nCols))
    var c = 0
    while (c < nCols) {
      h.colType(c) = u8(s"column $c type")
      h.blobLen(c) = i32(s"column $c blob length")
      if (h.blobLen(c) < 0) in.fail(s"negative blob length ${h.blobLen(c)} for column $c")
      h.blobCrc(c) = i32(s"column $c blob checksum")
      val zone = u8(s"column $c zone kind") match {
        case 0 => ColZone.Unknown
        case k @ (4 | 5) =>
          ColZone(k - 3, i64(s"column $c zone min"), i64(s"column $c zone max"),
            sum = i64(s"column $c zone sum"))
        case 3 =>
          val mn = bytes(u8(s"column $c zone min length"), s"column $c zone min")
          ColZone(3, smin = mn, smax = bytes(u8(s"column $c zone max length"), s"column $c zone max"))
        case k => in.fail(s"bad zoneKind $k for column $c")
      }
      val nulls = i32(s"column $c null count")
      if (nulls < 0 || nulls > numRows)
        in.fail(s"invalid null count $nulls for column $c ($numRows rows)")
      h.zones(c) = zone.copy(nullCount = nulls, rows = numRows)
      if (nulls > 0) h.nullBits(c) = bytes((numRows + 7) >> 3, s"column $c validity bitmap")
      c += 1
    }
    if (crc.getValue.toInt != stored)
      in.fail(f"frame header checksum mismatch (stored 0x$stored%08x, computed 0x${crc.getValue.toInt}%08x) — corrupt zone maps or column meta")
    h
  }

  /** A serialized frame as the parser's input; any overrun or corruption
    * is an IOException.
    */
  def of(frame: Array[Byte]): In = new In {
    private var p = 0
    private def take(n: Int, what: String): Int = {
      if (n > frame.length - p) fail(s"truncated while reading $what")
      p += n
      p - n
    }
    def u8(what: String): Int = frame(take(1, what)) & 0xff
    def i32(what: String): Int = {
      val o = take(4, what)
      (frame(o) & 0xff) | ((frame(o + 1) & 0xff) << 8) | ((frame(o + 2) & 0xff) << 16) | ((frame(o + 3) & 0xff) << 24)
    }
    def bytes(n: Int, what: String): Array[Byte] = {
      val o = take(n, what)
      java.util.Arrays.copyOfRange(frame, o, o + n)
    }
    def fail(msg: String): Nothing = throw new java.io.IOException(msg)
  }
}
