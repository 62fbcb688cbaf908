package graft.sources

import graft.codec.BtrConfig
import graft.engine.{BlockFiles, BtrEncoder, BtrTable}
import graft.format.ZoneIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.graftshim.ConfShim
import org.apache.hadoop.fs.Path

/** DSv2 WRITE path: `df.write.format("btr").mode("overwrite").save(dir)`.
  *
  * The reference has no writable SQL surface at all (its DataFusion
  * provider is read-only, /root/reference/src/datafusion.rs:42-74; writes
  * go through Btr::from_csv). Here the engine is a full connector and the
  * one raw-row write driver (BlockFiles.write's raw shape is this writer):
  * each DataWriter streams its partition through the push-based
  * ChunkBuilder into ONE block file with an attempt-unique temp name +
  * rename-if-absent task commit, and the driver writes the manifest only
  * in BatchWrite.commit — a failed job leaves no manifest, so readers
  * never observe a partial table. The compressed exchange
  * (BlockFiles.writeCompressedExchange) writes its frames into `stage()`
  * and publishes through the same `commit`/`abort`.
  *
  * Range clustering is requested declaratively: with
  * `.option("rangeCols", "repo,path")` the Write implements
  * RequiresDistributionAndOrdering, and SPARK plans the range exchange +
  * local sort (AQE-sized) instead of the connector hand-rolling it.
  */
class BtrWriteBuilder(dir: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val rangeCols = Option(info.options.get("rangecols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    rangeCols.foreach(c => require(info.schema().fieldNames.contains(c),
      s"rangeCols column '$c' not in write schema"))
    // skew escape hatch (round-5): DSv2 distributions cannot synthesize
    // columns, so the caller adds a salt column (e.g.
    // withColumn("__salt", pmod(hash(col("path")), lit(16)))) and names it
    // here — it joins the ordered distribution (a hot rangeCols key spreads
    // over its salt values instead of serializing one writer) and is
    // PROJECTED OUT before encoding, so it never lands in the table
    val saltCols = Option(info.options.get("saltcols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    saltCols.foreach(c => require(info.schema().fieldNames.contains(c),
      s"saltCols column '$c' not in write schema"))
    require(saltCols.isEmpty || rangeCols.nonEmpty,
      "saltCols requires rangeCols (it salts the range distribution)")
    require(saltCols.intersect(rangeCols).isEmpty,
      s"saltCols ${saltCols.intersect(rangeCols).mkString(",")} overlap rangeCols")
    val cfg = BtrConfig(
      blockSize = Option(info.options.get("blocksize")).map(_.toInt)
        .getOrElse(BtrConfig.default.blockSize),
      maxCascadeDepth = Option(info.options.get("maxcascadedepth")).map(_.toInt)
        .getOrElse(BtrConfig.default.maxCascadeDepth),
      maxChunkBytes = Option(info.options.get("maxchunkbytes")).map(_.toLong)
        .getOrElse(BtrConfig.default.maxChunkBytes))
    val advisory = Option(info.options.get("targetpartitionbytes")).map(_.toLong).getOrElse(0L)
    // Spark rejects an advisory size under an unspecified distribution at
    // planning time with an opaque error — fail here with an actionable one
    require(advisory == 0L || rangeCols.nonEmpty,
      "targetPartitionBytes requires rangeCols (AQE sizes the range exchange; " +
        "an unpartitioned write has no exchange to size)")
    val numParts = Option(info.options.get("numpartitions")).map(_.toInt).getOrElse(0)
    require(numParts == 0 || rangeCols.nonEmpty,
      "numPartitions requires rangeCols (it sizes the range exchange)")
    require(numParts == 0 || advisory == 0L,
      "numPartitions and targetPartitionBytes are mutually exclusive")
    new BtrWrite(dir, info.schema(), cfg, rangeCols, doTruncate, advisory, numParts, saltCols)
  }
}

class BtrWrite(
    dir: String,
    schema: StructType,
    cfg: BtrConfig,
    rangeCols: Seq[String],
    truncate: Boolean,
    advisoryBytes: Long = 0L,
    numParts: Int = 0,
    saltCols: Seq[String] = Nil)
  extends Write with RequiresDistributionAndOrdering with BatchWrite {

  /** Schema actually encoded/persisted: the input minus salt columns. */
  private val keptIdx: Array[Int] =
    schema.fields.indices.filterNot(i => saltCols.contains(schema.fields(i).name)).toArray
  private val outSchema: StructType = StructType(keptIdx.map(schema.fields(_)))
  private val outColTypes: Array[Int] = BtrEncoder.validateSchema(outSchema) // fail at planning

  /** `targetPartitionBytes` option: lets AQE size the write partitions to
    * a byte target (~one block file each) instead of inheriting
    * spark.sql.shuffle.partitions — at 100 TB you want ~1 GB writers, not
    * a fixed count.
    */
  override def advisoryPartitionSizeInBytes(): Long = advisoryBytes

  /** `numPartitions` option: pin an exact writer count (= block-file count)
    * instead of AQE sizing — e.g. to guarantee file-level zone granularity.
    */
  override def requiredNumPartitions(): Int = numParts

  override def description(): String =
    s"BtrWrite(dir=$dir${if (rangeCols.nonEmpty) s", rangeCols=${rangeCols.mkString(",")}" else ""})"

  private def orders: Array[SortOrder] =
    (rangeCols ++ saltCols)
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  /** Ask Spark for the clustering instead of hand-rolling an exchange.
    *
    * SKEW: without saltCols, Distributions.ordered ranges on the RAW
    * columns — a hot (repo, path) key serializes into one writer task, and
    * AQE's skew handling does not split a single range partition for
    * writes. For skewed ingests pass `saltCols`: a caller-added salt
    * column joins the distribution and is dropped before encoding.
    * BlockFiles.write does this for every range write (a salt of
    * pmod(hash(all columns), 16)).
    */
  override def requiredDistribution(): Distribution =
    if (rangeCols.isEmpty) Distributions.unspecified() else Distributions.ordered(orders)

  override def requiredOrdering(): Array[SortOrder] =
    if (rangeCols.isEmpty) Array.empty else orders

  override def toBatch: BatchWrite = this

  /** `df.writeStream.format("btr")` — the native sink twin of the btr
    * streaming SOURCE: each epoch lands as a `batch=<epochId>/` sub-table
    * in the manifest-gated ingest layout the source reads, published by an
    * atomic per-epoch manifest. Append mode only (an epoch is immutable
    * history; complete-mode truncation contradicts the layout).
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "btr streaming sink supports append output mode only (each epoch is an immutable batch=<id> sub-table)")
    new BtrStreamingWrite(dir, outSchema, outColTypes, cfg, keptIdx)
  }

  /** Overwrite stages its block files in `.staging-blocks` and swaps them
    * in only at commit — the OLD table stays fully readable for the whole
    * write, and a failed overwrite JOB leaves it untouched (round-3 advice:
    * the previous delete-first shape destroyed the old table before a
    * single new byte landed). The residual non-atomic window is the
    * commit-time swap itself (delete old manifest -> swap blocks -> write
    * new manifest); a crash inside it leaves NO manifest, so readers see
    * no table rather than a mixed one.
    */
  private def stagingDir = s"$dir/.staging-blocks"

  /** Prepares the directory this job's block files go to and returns it:
    * a fresh `.staging-blocks` for an overwrite, else `blocks/` of a table
    * that must not exist yet. Every batch write stages here, then
    * publishes with `commit` or cleans up with `abort`.
    */
  private[graft] def stage(): String = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val blocks = new Path(s"$dir/blocks")
    val fs = blocks.getFileSystem(conf)
    val target =
      if (truncate) {
        val staging = new Path(stagingDir)
        if (fs.exists(staging)) fs.delete(staging, true) // crashed prior overwrite
        staging
      } else {
        require(!fs.exists(new Path(dir, BtrTable.ManifestFile)),
          s"btr table at $dir already exists — use mode(\"overwrite\") (append is not supported)")
        // no manifest => no committed table; a crashed earlier job may still
        // have left part files whose rename-if-absent commit would beat this
        // job's writers and serve ITS data under OUR manifest — clear them
        // (and any orphaned zone index with them)
        if (fs.exists(blocks)) fs.delete(blocks, true)
        val staleIdx = new Path(dir, ZoneIndex.FileName)
        if (fs.exists(staleIdx)) fs.delete(staleIdx, false)
        blocks
      }
    fs.mkdirs(target)
    target.toString
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    BtrWriterFactory(ConfShim.broadcast(SparkSession.active.sparkContext), stage(),
      outSchema, outColTypes, cfg, keptIdx)

  /** Manifest (with stats from the commit messages) appears only here —
    * the atomic "job succeeded" marker for readers. For overwrite this is
    * also where the staged blocks replace the old ones.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = new Path(s"$dir/blocks")
    val fs = blocks.getFileSystem(conf)
    if (truncate) {
      val manifest = new Path(dir, BtrTable.ManifestFile)
      if (fs.exists(manifest)) fs.delete(manifest, false) // unpublish old table
      val staleIdx = new Path(dir, ZoneIndex.FileName)
      if (fs.exists(staleIdx)) fs.delete(staleIdx, false) // never outlives its blocks
      if (fs.exists(blocks)) fs.delete(blocks, true)
      if (!fs.rename(new Path(stagingDir), blocks))
        sys.error(s"could not swap $stagingDir -> $blocks")
    }
    BlockFiles.publish(spark, dir, outSchema, outColTypes, cfg,
      messages.toSeq.collect { case m: BlockFiles.BlockWriteStat => m })
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // drop only what THIS job created: the staging dir (overwrite — the old
    // table is untouched and still published) or the fresh blocks dir (no
    // manifest was written, so nothing is visible). Never the whole target
    // dir — it may hold unrelated pre-existing files.
    val spark = SparkSession.active
    val p = if (truncate) new Path(stagingDir) else new Path(s"$dir/blocks")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** Micro-batch streaming sink: epoch N writes its block files under
  * `dir/batch=N/blocks` with the same attempt-unique temp name +
  * rename-if-absent task commit as the batch path, and the driver
  * publishes the epoch's manifest (stats + file-level zone index first)
  * only in `commit(epochId)` — a crashed epoch leaves no manifest, so the
  * btr streaming source's contiguity guard keeps it (and every later
  * batch) invisible until the retry lands.
  *
  * EXACTLY-ONCE on at-least-once replay: a replayed epoch whose manifest
  * already exists is a no-op at commit, and its re-run task writers lose
  * the rename-if-absent race to the published files — the first committed
  * content stays. Epoch ids are Spark's monotone micro-batch ids, exactly
  * the `batch=0,1,2…` contiguous prefix the source's offsets count.
  */
class BtrStreamingWrite(
    dir: String,
    schema: StructType, // persisted schema (salt columns removed)
    colTypes: Array[Int],
    cfg: BtrConfig,
    keptIdx: Array[Int])
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def epochDir(epochId: Long) = BtrTable.batchDir(dir, epochId)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
    : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    BtrStreamingWriterFactory(
      ConfShim.broadcast(SparkSession.active.sparkContext), dir, schema, colTypes, cfg, keptIdx)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val edir = epochDir(epochId)
    // replayed epoch: the manifest is the publish marker — only
    // manifest-ABSENT means not-done (a read error must propagate, never
    // trigger a second publish under a live manifest)
    if (BtrTable.published(spark, edir).exists(_.columns.nonEmpty)) return
    // an all-empty epoch still publishes (an id gap would stall the
    // source's contiguous-prefix offset forever) — ensure the blocks dir
    // exists for listings
    val blocks = new Path(s"$edir/blocks")
    blocks.getFileSystem(conf).mkdirs(blocks)
    BlockFiles.publish(spark, edir, schema, colTypes, cfg,
      messages.toSeq.collect { case m: BlockFiles.BlockWriteStat => m })
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // drop the failed epoch's blocks ONLY if it was never published (a
    // replay aborting after the original committed must not delete live
    // data); task temp files are already cleaned by DataWriter.abort
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val edir = epochDir(epochId)
    val fs = new Path(edir).getFileSystem(conf)
    if (!fs.exists(new Path(edir, BtrTable.ManifestFile))) {
      val blocks = new Path(s"$edir/blocks")
      if (fs.exists(blocks)) fs.delete(blocks, true)
    }
  }
}

case class BtrStreamingWriterFactory(
    confB: org.apache.spark.broadcast.Broadcast[ConfShim.SerConf],
    dir: String,
    schema: StructType,
    colTypes: Array[Int],
    cfg: BtrConfig,
    keptIdx: Array[Int])
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    // epoch commit runs after the tasks, and a block file is created
    // without parent dirs: each task makes the epoch's blocks dir first
    val conf = ConfShim.conf(confB)
    val blocks = new Path(s"${BtrTable.batchDir(dir, epochId)}/blocks")
    blocks.getFileSystem(conf).mkdirs(blocks)
    new BtrDataWriter(conf, blocks.toString, partitionId, taskId, schema, colTypes, cfg, keptIdx)
  }
}

case class BtrWriterFactory(
    confB: org.apache.spark.broadcast.Broadcast[ConfShim.SerConf],
    blocksDir: String,
    schema: StructType, // the PERSISTED schema (salt columns already removed)
    colTypes: Array[Int],
    cfg: BtrConfig,
    keptIdx: Array[Int] = Array.emptyIntArray) // input-row ordinals of persisted columns
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BtrDataWriter(ConfShim.conf(confB), blocksDir, partitionId, taskId, schema, colTypes, cfg,
      keptIdx)
}

/** One task's writer: rows push through the ChunkBuilder; each full chunk
  * is framed and appended to this partition's block file through the same
  * BlockFileWriter as the compressed exchange's writeFrames (attempt-unique
  * temp name, zone and stats fold, rename-if-absent commit). Memory is
  * bounded by one chunk.
  * An empty partition creates no file.
  */
class BtrDataWriter(
    conf: org.apache.hadoop.conf.Configuration,
    blocksDir: String,
    pid: Int,
    taskId: Long,
    schema: StructType, // persisted schema; keptIdx maps its fields to input-row ordinals
    colTypes: Array[Int],
    cfg: BtrConfig,
    keptIdx: Array[Int] = Array.emptyIntArray)
  extends DataWriter[InternalRow] {

  private val builder = new BtrEncoder.ChunkBuilder(schema, colTypes, cfg, s" at partition $pid")
  // salt projection: identity when keptIdx is empty or already 0..n-1
  private val project: Array[Int] =
    if (keptIdx.isEmpty || keptIdx.sameElements(schema.fields.indices)) null else keptIdx
  private val projRow =
    if (project == null) null
    else new org.apache.spark.sql.catalyst.ProjectingInternalRow(
      schema, scala.collection.immutable.ArraySeq.unsafeWrapArray(project))
  private val file = new BlockFiles.BlockFileWriter(conf, blocksDir, pid, taskId)

  private def flushChunk(): Unit =
    if (!builder.isEmpty)
      file.append(BlockFiles.frameChunk(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(builder.build())))

  override def write(row: InternalRow): Unit = {
    if (builder.isFull) flushChunk()
    if (projRow == null) builder.add(row)
    else { projRow.project(row); builder.add(projRow) }
  }

  override def commit(): WriterCommitMessage = {
    flushChunk()
    file.commit()
  }

  override def abort(): Unit = close()

  override def close(): Unit = file.close()
}
