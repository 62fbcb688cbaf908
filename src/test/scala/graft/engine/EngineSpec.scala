package graft.engine

import graft.codec.BtrConfig
import graft.data.SourceCodeGen
import graft.format.BtrManifest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** End-to-end engine tests: encode→decode→sha256 verify over the synthetic
  * source-code table (FIXTURES.md F3; north-rule invariant), resume from
  * checkpoint, column pruning.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("engine-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(name: String): String = {
    val p = Paths.get("target", "tmp", s"spec_$name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (p.toFile.exists()) rm(p.toFile)
    p.toFile.mkdirs()
    "file:" + p.toAbsolutePath
  }

  // small blocks => many chunks per partition (reference TODO at
  // /root/reference/src/lib.rs:314-318 wants multi-part coverage)
  val cfg = BtrConfig(maxCascadeDepth = 3, blockSize = 256)

  private def sourceDf = {
    import spark.implicits._
    SourceCodeGen.table(spark, 3000, seed = 7L).toDF()
      .select($"row_id".cast("int").as("row_id"),
        $"repo", $"path", $"commit", $"lang", $"content")
  }

  test("e2e: encode -> decode -> every column bit-identical (sha256 join)") {
    val dir = tmpDir("e2e")
    val src = sourceDf.cache()
    val manifest = BtrTable.write(src, dir, cfg, rangeCols = Seq("repo", "path"))
    assert(manifest.numRows == 3000)
    assert(manifest.encBytes > 0 && manifest.encBytes < manifest.rawBytes,
      s"compressed (${manifest.encBytes}) must be < raw (${manifest.rawBytes})")

    val decoded = BtrTable.load(spark, dir)
    assert(decoded.count() == 3000)
    val joined = decoded.as("d").join(src.as("o"), "row_id")
    assert(joined.count() == 3000, "row_id join must cover all rows")
    val bad = joined.filter(
      sha2(col("d.content"), 256) =!= sha2(col("o.content"), 256) ||
        col("d.repo") =!= col("o.repo") || col("d.path") =!= col("o.path") ||
        col("d.commit") =!= col("o.commit") || col("d.lang") =!= col("o.lang"))
    assert(bad.count() == 0, "decoded columns must be bit-identical")
    src.unpersist()
  }

  test("decode with column pruning reads only requested columns") {
    val dir = tmpDir("prune")
    BtrTable.write(sourceDf, dir, cfg)
    val only = BtrTable.load(spark, dir, Seq("lang", "repo"))
    assert(only.columns.toSeq == Seq("lang", "repo"))
    assert(only.count() == 3000)
    assert(only.select("lang").distinct().count() <= 10)
  }

  test("loadPruned: zone-map chunk pruning with no broadcast exchange") {
    val dir = tmpDir("zprune")
    BtrTable.write(sourceDf, dir, cfg, rangeCols = Seq("row_id"))
    val pruned = BtrTable.loadPruned(spark, dir, "row_id", 100, 199)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"pruning must not broadcast:\n$plan")
    assert(pruned.filter(col("row_id").between(100, 199)).count() == 100)
    // chunks outside the range were skipped, not just row-filtered
    assert(pruned.count() < 3000, "pruned scan must decode fewer chunks than the table")
    // validation: unknown or non-integer prune columns throw instead of
    // silently pruning everything (their zone maps are null)
    intercept[IllegalArgumentException] { BtrTable.loadPruned(spark, dir, "no_such", 0, 1) }
    intercept[IllegalArgumentException] { BtrTable.loadPruned(spark, dir, "lang", 0, 1) }
    intercept[IllegalArgumentException] { BtrTable.loadPruned(spark, dir, "row_id", 0, 1, columns = Seq("nope")) }
  }

  test("resumable write: restart after partial completion finishes the table") {
    val dir = tmpDir("resume")
    val src = sourceDf
    val m1 = BtrTable.writeResumable(src, dir, cfg, buckets = 4)
    assert(m1.completedPartitions.sorted == Seq(0, 1, 2, 3))
    assert(m1.numRows == 3000)

    // simulate a crash after bucket 1: buckets 2,3 never published
    val base = dir.stripPrefix("file:")
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(Paths.get(base, "batch=2").toFile)
    rmrf(Paths.get(base, "batch=3").toFile)
    def stamps(b: Int) = {
      val d = Paths.get(base, s"batch=$b")
      val files = Seq(d.resolve(BtrTable.ManifestFile)) ++
        d.resolve("blocks").toFile.listFiles().map(_.toPath).filter(_.getFileName.toString.startsWith("part-"))
      files.map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f)).toMap
    }
    val before = Seq(0, 1).map(stamps)
    assert(BtrTable.load(spark, dir).count() < 3000, "the published prefix is readable alone")
    Thread.sleep(20) // a rewrite would carry a later mtime

    // resume: only buckets 2,3 are encoded; 0,1 are not rewritten
    val m2 = BtrTable.writeResumable(src, dir, cfg, buckets = 4)
    assert(m2.completedPartitions.sorted == Seq(0, 1, 2, 3))
    assert(m2.numRows == 3000 && m2.encBytes == m1.encBytes && m2.columnStats == m1.columnStats)
    assert(Seq(0, 1).map(stamps) == before, "published buckets must not be rewritten")
    val decoded = BtrTable.load(spark, dir)
    assert(decoded.count() == 3000)
    assert(decoded.select("row_id").distinct().count() == 3000)
    assert(BtrTable.stats(spark, dir).select(sum("n_values")).head().getLong(0) == 3000L * 6)
  }

  test("nullable input round-trips (null extension; non-null model is per-column)") {
    import spark.implicits._
    val dir = tmpDir("nulls")
    // Option column => nullable field => validity-bitmap extension engages
    val df = Seq(("a", Some(1)), ("b", None), ("c", Some(7))).toDF("k", "v")
      .select($"k", $"v".cast("int").as("v"))
    BtrTable.write(df, dir, cfg)
    val back = BtrTable.load(spark, dir)
    assert(back.schema("v").nullable)
    assert(back.filter($"v".isNull).select("k").as[String].collect().toSeq == Seq("b"))
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("unsupported type fails fast") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("big", "s")
    val e = intercept[IllegalArgumentException] {
      BtrEncoder.validateSchema(df.schema)
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("byte budget closes chunks early for wide rows (bounded task memory)") {
    import spark.implicits._
    val dir = tmpDir("widerow")
    // 100 x 100 KB rows, 1 MB chunk budget -> ~10 rows per chunk even
    // though blockSize allows 65536
    val df = (0 until 100).map(i => (i, ("x" * 99990) + f"$i%05d")).toDF("id", "s")
      .repartition(1)
    val wide = BtrConfig(blockSize = 65536, maxChunkBytes = 1L << 20)
    BtrTable.write(df, dir, wide)
    val nChunks = frameCount(dir)
    assert(nChunks >= 8, s"1MB budget must split 10MB of rows into many chunks: $nChunks")
    val back = BtrTable.load(spark, dir)
    assert(back.count() == 100)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  /** Chunk count of a table, read from its block files' frame headers. */
  private def frameCount(dir: String): Int = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = new Path(s"$dir/blocks")
    blocks.getFileSystem(conf).listStatus(blocks).map(_.getPath)
      .filter(_.getName.startsWith("part-")).map { p =>
        val r = new graft.sources.FrameReader(p.toString, conf)
        var n = 0
        try while (r.nextHeader()) { r.finishChunk(); n += 1 } finally r.close()
        n
      }.sum
  }

  test("BtrCsvView: random-access csv reads with bounded cache (S7/S8 semantics)") {
    import spark.implicits._
    val dir = tmpDir("csvview")
    val df = (0 until 500).map(i => (i, s"name_$i", i * 0.5)).toDF("id", "name", "score")
    BtrTable.write(df, dir, BtrConfig(blockSize = 64))

    val full = new String(new BtrCsvView(spark, dir).readAll(), "UTF-8")
    val lines = full.split("\n", -1)
    assert(lines.head == "id,name,score")
    assert(lines.last == "" && lines.length == 502, s"501 lines + trailing: ${lines.length}")
    val expected = df.collect().map(r => s"${r.getInt(0)},${r.getString(1)},${r.getDouble(2)}").toSet
    assert(lines.slice(1, 501).toSet == expected)

    // windowed reads through a TINY cache match the full rendering,
    // including a read span larger than the cache and a backward seek
    val view = new BtrCsvView(spark, dir, cacheLimit = 512)
    for ((off, len) <- Seq((0, 40), (1000, 313), (full.length - 25, 100),
      (2000, 2048), (37, 1))) {
      val got = new String(view.read(off.toLong, len), "UTF-8")
      val want = full.substring(math.min(off, full.length),
        math.min(off + len, full.length))
      assert(got == want, s"read($off,$len)")
    }
    assert(new String(view.read(0, 20), "UTF-8") == full.take(20), "backward seek re-inits")
    assert(view.size == full.length.toLong)
    assert(view.read(full.length + 10L, 5).isEmpty, "past-EOF read is empty")
  }

  test("BtrCsvView backward seek re-enters at the covering partition, not row 0") {
    import spark.implicits._
    val dir = tmpDir("csvview_seek")
    // 8 distinct block files => 8 scan partitions for the view's rdd
    val df = (0 until 4000).map(i => (i, s"name_$i")).toDF("id", "name").repartition(8)
    BtrTable.write(df, dir, BtrConfig(blockSize = 64))

    val full = new String(new BtrCsvView(spark, dir).readAll(), "UTF-8")
    val view = new BtrCsvView(spark, dir, cacheLimit = 512)
    // drive to near the end, then seek backward to a mid-table offset
    val tailOff = full.length - 50L
    assert(new String(view.read(tailOff, 50), "UTF-8") == full.substring(tailOff.toInt))
    val midOff = full.length / 2L
    val got = new String(view.read(midOff, 200), "UTF-8")
    assert(got == full.substring(midOff.toInt, midOff.toInt + 200), "backward window bytes exact")
    assert(view.lastReplayFrom > 0,
      s"backward seek must re-enter at the covering partition, got partition ${view.lastReplayFrom}")
    // a seek into the header region still replays from the top
    assert(new String(view.read(0, 10), "UTF-8") == full.take(10))
    assert(view.lastReplayFrom == 0)
  }

  test("BtrCsvView far-forward seek re-enters at the covering partition, not a driver drain") {
    import spark.implicits._
    val dir = tmpDir("csvview_fwd")
    val df = (0 until 4000).map(i => (i, s"name_$i")).toDF("id", "name").repartition(8)
    BtrTable.write(df, dir, BtrConfig(blockSize = 64))

    val full = new String(new BtrCsvView(spark, dir).readAll(), "UTF-8")
    val view = new BtrCsvView(spark, dir, cacheLimit = 512)
    assert(new String(view.read(0, 100), "UTF-8") == full.take(100))
    assert(view.lastReplayFrom == 0)
    // jump ~3/4 in: must re-enter via the partition byte index (decoding
    // only the covering partitions onward), not render the gap row-by-row
    val farOff = full.length * 3L / 4
    assert(new String(view.read(farOff, 200), "UTF-8")
      == full.substring(farOff.toInt, farOff.toInt + 200))
    assert(view.lastReplayFrom > 0,
      s"far-forward seek must jump partitions, got ${view.lastReplayFrom}")
    val entered = view.lastReplayFrom
    // a small forward gap inside the current partition fills sequentially
    // (re-entering would rewind to the partition start)
    val nearOff = farOff + 400
    assert(new String(view.read(nearOff, 50), "UTF-8")
      == full.substring(nearOff.toInt, nearOff.toInt + 50))
    assert(view.lastReplayFrom == entered, "no re-init for an in-partition gap")
  }

  test("manifest json round-trips") {
    import graft.format._
    val m = BtrManifest(
      Seq(ColumnMeta("a\"b", 0), ColumnMeta("content", 2)),
      numPartitions = 4, blockSize = 65536, maxCascadeDepth = 3,
      numRows = 123456789L, rawBytes = 1000L, encBytes = 250L,
      completedPartitions = Seq(0, 2),
      columnStats = Seq(ColumnStat(600L, 150L, 3L, 70000000L, Seq("FBP(w=15)", "RLE(v=One,r=Raw)")),
        ColumnStat(400L, 100L, 1L, 53456789L, Seq("Dict(d=FSST)", "we\"ird\\"))))
    val back = BtrManifest.fromJson(BtrManifest.toJson(m))
    assert(back == m)
    assert(back.ratio == 4.0)
    // manifests without per-column stats stay parseable
    val legacy = BtrManifest.fromJson(BtrManifest.toJson(m.copy(columnStats = Nil)))
    assert(legacy.columnStats.isEmpty && legacy.numRows == m.numRows)
  }
}
