package graft.engine

import graft.codec.BtrConfig
import graft.format.{BtrManifest, ColumnStat}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.hadoop.fs.Path

/** The btr-spark "file": a directory of raw block files plus a JSON
  * manifest (graft.format) — Spark-native analog of the reference's btr
  * directory (`metadata` + `column{i}_part{j}`, reference
  * src/btrblocks.rs:668-672). This object is the public
  * table API, a thin caller of the one write core (BlockFiles.write) and
  * the one read core (the DSv2 `btr` source).
  *
  * Checkpoint/resume (north rule): `writeResumable` splits the input into
  * deterministic hash buckets and writes each as its own `batch=<b>/`
  * sub-table, published by its manifest — a restart skips the published
  * buckets, so a 100 TB encode killed mid-run resumes where it stopped.
  * Uses Hadoop FileSystem APIs so the same code addresses file:/, hdfs:/,
  * s3a:/ (the reference's object-store matrix, src/util.rs:60-96, comes
  * free from Hadoop).
  */
object BtrTable {
  final val ManifestFile = "_btr_manifest.json"

  // ------------------------------------------------------------- manifest io

  /** Atomic publish of `dir/name`: write a dot-temp file, then rename it
    * over the target (FileContext's OVERWRITE rename; delete + rename where
    * the file system has no FileContext), failing when the rename does. A
    * plain create-then-write leaves the file VISIBLE, empty or partial,
    * between create and close — and the minimal manifest JSON parser is
    * total (empty input parses to an empty manifest), so readers would
    * mistake a crash in that window for a complete table. Shared by the
    * manifest and the zone index.
    */
  private[graft] def publishFile(
      conf: org.apache.hadoop.conf.Configuration, dir: String, name: String, bytes: Array[Byte]): Unit = {
    val path = new Path(dir, name)
    val tmp = new Path(dir, s".$name.tmp")
    val fs = path.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    val renamed =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(path.toUri, conf)
        fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (fs.exists(path)) fs.delete(path, false)
          fs.rename(tmp, path)
      }
    if (!renamed) throw new java.io.IOException(s"could not publish $tmp -> $path")
  }

  def writeManifest(spark: SparkSession, dir: String, m: BtrManifest): Unit =
    publishFile(spark.sparkContext.hadoopConfiguration, dir, ManifestFile,
      BtrManifest.toJson(m).getBytes("UTF-8"))

  def readManifest(spark: SparkSession, dir: String): BtrManifest = {
    val path = new Path(dir, ManifestFile)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      BtrManifest.fromJson(new String(bytes.toByteArray, "UTF-8"))
    } finally in.close()
  }

  /** The manifest of the table at `dir`, None when it is unpublished (no
    * manifest file). Any other read error propagates: only an absent
    * manifest means "not written yet".
    */
  private[graft] def published(spark: SparkSession, dir: String): Option[BtrManifest] =
    try Some(readManifest(spark, dir))
    catch { case _: java.io.FileNotFoundException => None }

  /** What a read sees of a table: the table dirs holding its block files,
    * in read order, and one manifest (schema and totals).
    */
  final case class Snapshot(dirs: Seq[String], manifest: BtrManifest)

  /** THE publish rule, for every read. A dir whose manifest exists is one
    * table. Otherwise it is a `batch=<id>/` layout (streaming sink,
    * `writeResumable`), read as its contiguous published prefix under the
    * prefix's summed manifest: an unpublished batch hides itself and every
    * later one. A layout whose batch 0 is unpublished shows no batch; its
    * first published batch lends the schema. A dir with neither is not a
    * table: FileNotFoundException naming its manifest.
    */
  def snapshot(spark: SparkSession, dir: String): Snapshot = published(spark, dir) match {
    case Some(m) => Snapshot(Seq(dir), m)
    case None =>
      val ids = publishedBatches(spark.sparkContext.hadoopConfiguration, dir)
      if (ids.isEmpty)
        throw new java.io.FileNotFoundException(
          s"${new Path(dir, ManifestFile)} does not exist: no published btr table")
      val dirs = (0L until contiguousPrefix(ids)).map(batchDir(dir, _))
      val ms = dirs.map(readManifest(spark, _))
      Snapshot(dirs, combine(ms.headOption.getOrElse(readManifest(spark, batchDir(dir, ids.head))), ms))
  }

  /** Sub-table `id` of a `batch=<id>/` layout. */
  private[graft] def batchDir(dir: String, id: Long): String = s"$dir/batch=$id"

  /** Ids of the `batch=<id>/` sub-tables under `dir` whose manifest is
    * published, ascending (one glob, independent of table history).
    */
  private[graft] def publishedBatches(conf: org.apache.hadoop.conf.Configuration, dir: String): Array[Long] = {
    val base = new Path(dir)
    val ms = base.getFileSystem(conf).globStatus(new Path(base, "batch=*/" + ManifestFile))
    if (ms == null) Array.empty
    else ms.map(_.getPath.getParent.getName.stripPrefix("batch=").toLong).sorted
  }

  /** Length k of the contiguous prefix batch=0..k-1 of ascending `ids`: a
    * batch whose manifest is missing (in flight or crashed) hides itself
    * and every later batch, so readers never see a gap.
    */
  private[graft] def contiguousPrefix(ids: Array[Long]): Long = {
    var k = 0L
    while (k < ids.length && ids(k.toInt) == k) k += 1
    k
  }

  /** Totals of sub-table manifests `ms` under `head`'s schema, batch ids as
    * completedPartitions (no sub-table: zero totals).
    */
  private def combine(head: BtrManifest, ms: Seq[BtrManifest]): BtrManifest =
    head.copy(
      numPartitions = ms.map(_.numPartitions).sum,
      numRows = ms.map(_.numRows).sum,
      rawBytes = ms.map(_.rawBytes).sum,
      encBytes = ms.map(_.encBytes).sum,
      completedPartitions = ms.indices,
      columnStats = ms.map(_.columnStats).reduceOption(_.zip(_).map { case (x, y) => x + y })
        .getOrElse(head.columnStats.map(_ => ColumnStat(0L, 0L, 0L, 0L, Nil))))

  // ------------------------------------------------------------------ write

  /** One-shot encode+write through the block-file core: BlockFiles.write's
    * raw-row shape, i.e. the DSv2 writer, which stages the block files and
    * publishes them only when the whole write succeeded. `rangeCols` adds
    * a Spark-planned range exchange and local sort (locality: same
    * repo/path ranges share chunks) with a row-varying salt so a single
    * hot key cannot serialize one task — the skew policy from SURVEY §7.
    */
  def write(
      df: DataFrame,
      dir: String,
      cfg: BtrConfig = BtrConfig.default,
      rangeCols: Seq[String] = Nil,
      numPartitions: Int = 0): BtrManifest =
    BlockFiles.write(df, dir, cfg, rangeCols, numPartitions = numPartitions)

  /** Resumable encode+write over deterministic hash buckets: bucket b is
    * one BlockFiles.write into `dir/batch=b/`, and a bucket whose manifest
    * is already published is skipped, so a restart re-encodes only the
    * buckets a crash left unpublished. Reads see the buckets as one table
    * (the source's `batch=*` layout); the returned manifest is their sum.
    */
  def writeResumable(
      df: DataFrame,
      dir: String,
      cfg: BtrConfig = BtrConfig.default,
      buckets: Int = 8): BtrManifest = {
    val spark = df.sparkSession
    BtrEncoder.validateSchema(df.schema)
    val bucketed = df.withColumn("__bucket", pmod(hash(df.columns.map(col): _*), lit(buckets)))
    val ms = (0 until buckets).map { b =>
      val bdir = batchDir(dir, b)
      published(spark, bdir).getOrElse(
        BlockFiles.write(bucketed.filter(col("__bucket") === b).drop("__bucket"), bdir, cfg))
    }
    combine(ms.head, ms)
  }

  // ------------------------------------------------------------------- read

  /** Decode a btr directory through the DSv2 source, optionally projecting
    * columns (unknown names throw; pruned columns' bytes are never read).
    */
  def load(spark: SparkSession, dir: String, columns: Seq[String] = Nil): DataFrame =
    project(spark.read.format("btr").load(dir), dir, columns)

  /** Range-pruned load over an INT column: the inclusive [lo, hi] filter
    * reaches the DSv2 scan, which drops whole block files by the zone
    * index and whole chunks by their zone maps before decoding, and
    * returns exactly the rows in range. This is the data-skipping
    * extension the reference's scan lacks entirely
    * (its src/datafusion.rs:64-73 ignores filters).
    */
  def loadPruned(
      spark: SparkSession,
      dir: String,
      pruneCol: String,
      lo: Long,
      hi: Long,
      columns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.format("btr").load(dir)
    // validate up front: a misspelled or wrongly-typed pruneCol must throw,
    // not silently match nothing
    val f = df.schema.find(_.name == pruneCol).getOrElse(
      throw new IllegalArgumentException(s"no column '$pruneCol' in $dir"))
    require(f.dataType == IntegerType,
      s"zone-map range pruning needs an INT column; '$pruneCol' is ${f.dataType.sql}")
    project(df.where(ref(pruneCol).between(lo, hi)), dir, columns)
  }

  private def ref(name: String): Column = col(s"`${name.replace("`", "``")}`")

  private def project(df: DataFrame, dir: String, columns: Seq[String]): DataFrame =
    if (columns.isEmpty) df
    else df.select(columns.map { n =>
      if (!df.columns.contains(n)) throw new IllegalArgumentException(s"no column '$n' in $dir")
      ref(n)
    }: _*)

  /** Per-column codec-choice/ratio metrics (north rule: persisted metrics),
    * read from the snapshot's manifest — no scan (a `batch=*` table sums
    * its contiguous published batches). Returned as a DataFrame so it can
    * be written alongside the manifest.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val m = snapshot(spark, dir).manifest
    require(m.columnStats.length == m.columns.length,
      s"$dir has no per-column stats in its manifest (written before they existed); rewrite it")
    import spark.implicits._
    m.columns.zip(m.columnStats).collect {
      case (c, s) if s.chunks > 0 => (c.name, s.rawBytes, s.encBytes, s.chunks, s.rows, s.schemes)
    }.toDF("colName", "raw_bytes", "enc_bytes", "n_parts", "n_values", "schemes")
      .select(col("colName"), col("raw_bytes"), col("enc_bytes"),
        round(col("raw_bytes") / col("enc_bytes"), 3).as("ratio"),
        col("n_parts"), col("n_values"), col("schemes"))
      .orderBy("colName")
  }
}
