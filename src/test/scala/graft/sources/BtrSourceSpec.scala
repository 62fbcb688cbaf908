package graft.sources

import graft.codec.{BtrConfig, ColType}
import graft.engine.BlockFiles
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Raw block-file layout + DSv2 connector: write blocks, read back via
  * spark.read.format("btr"), verify values, column pruning, and SQL over
  * the source (the reference's DataFusion TableProvider surface, S4).
  */
class BtrSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-source-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"src_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  test("blocks write -> DSv2 read round-trip, multi-chunk") {
    import spark.implicits._
    val dir = tmp("rt")
    val df = (0 until 5000)
      .map(i => (i, s"name_${i % 13}", i * 0.5, s"content line $i\n" * (1 + i % 3)))
      .toDF("id", "name", "score", "content").repartition(3)
    val m = BlockFiles.write(df, dir, BtrConfig(blockSize = 512))
    assert(m.numRows == 5000)
    assert(m.encBytes < m.rawBytes)

    val back = spark.read.format("btr").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score", "content"))
    assert(back.count() == 5000)
    val r = back.filter(col("id") === 4321).collect()
    assert(r.length == 1)
    assert(r(0).getString(1) == s"name_${4321 % 13}")
    assert(r(0).getDouble(2) == 4321 * 0.5)
    assert(r(0).getString(3) == "content line 4321\n" * 2)
    // full equality via anti-join
    val orig = df
    assert(back.except(orig).count() == 0 && orig.except(back).count() == 0)
  }

  test("column pruning reaches the scan (readSchema pruned)") {
    import spark.implicits._
    val dir = tmp("prune")
    val df = (0 until 2000).map(i => (i, s"x$i", s"yyyyyyyyyy$i")).toDF("id", "a", "b")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256))
    val pruned = spark.read.format("btr").load(dir).select("id")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("columns=id"), s"scan must prune to id only:\n$plan")
    assert(pruned.agg(sum("id")).head().getLong(0) == (0 until 2000).map(_.toLong).sum)
  }

  test("SQL over the btr source (reference `query` CLI analog)") {
    import spark.implicits._
    val dir = tmp("sql")
    val df = Seq((1, "Julia", 0.123), (2, "Peter", 213.1232), (3, "Jack", 4.20))
      .toDF("id", "name", "score")
    BlockFiles.write(df, dir)
    spark.read.format("btr").load(dir).createOrReplaceTempView("btr_v")
    val r = spark.sql("SELECT * FROM btr_v WHERE id = 3").collect()
    assert(r.length == 1 && r(0).getString(1) == "Jack" && r(0).getDouble(2) == 4.20)
  }

  test("filter pushdown: zone maps skip whole chunks; results stay exact") {
    import spark.implicits._
    val dir = tmp("zskip")
    // range layout on id => per-chunk zone maps are tight, a selective
    // range must skip most chunks
    val df = (0 until 8192).map(i => (i, s"payload_$i", i * 1.5)).toDF("id", "s", "d")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))

    val q = spark.read.format("btr").load(dir).where(col("id").between(1000, 1099))
    // the filter reached the scan (visible in the plan description)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("zoneFilters=id:"), s"pushed zone filter must show in scan:\n$plan")
    val rows = q.collect()
    assert(rows.length == 100)
    assert(rows.map(_.getInt(0)).sorted.toSeq == (1000 to 1099))

    // reader-level evidence: chunks outside the range are skipped unread
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val files = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).sorted
    var skipped = 0L
    var read = 0L
    files.foreach { f =>
      val r = ReadFile(f, conf, Array(0), Array(IntCmpPred(0, 1000, 1099)))
      read += r.rows.length
      skipped += r.chunksSkipped
    }
    assert(skipped > 20, s"most of the 32 chunks must be skipped, got $skipped")
    assert(read < 8192 && read >= 100, s"surviving rows bounded: $read")
  }

  test("count(*) pushdown reads frame headers only; limit pushdown stops early") {
    import spark.implicits._
    val dir = tmp("countstar")
    val df = (0 until 6000).map(i => (i, s"text payload $i" * 8)).toDF("id", "s")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 512))

    val counted = spark.read.format("btr").load(dir)
    val plan = counted.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("BtrAggScan"), s"count(*) must use the headers-only scan:\n$plan")
    assert(counted.count() == 6000)
    // a filtered count PUSHES too since round-5 (the filter is exact-claimed
    // and enforced by the agg reader three-way per chunk) — and stays exact
    val fplan = counted.where(col("id") > 10).groupBy().count()
      .queryExecution.executedPlan.toString
    assert(fplan.contains("BtrAggScan") && fplan.contains("exactFilters="),
      s"filtered count must push with its filters:\n$fplan")
    assert(counted.where(col("id") > 10).count() == 5989)
    // an unclaimable (expression) filter still falls back to row decoding
    val eplan = counted.where(col("id") % 7 === 0).groupBy().count()
      .queryExecution.executedPlan.toString
    assert(!eplan.contains("BtrAggScan"), s"expression filter must decode rows:\n$eplan")
    assert(counted.where(col("id") % 7 === 0).count() == (0 until 6000).count(_ % 7 == 0))

    val lim = spark.read.format("btr").load(dir).limit(7)
    val lplan = lim.queryExecution.executedPlan.toString
    assert(lplan.contains("limit=7"), s"pushed limit must reach the scan:\n$lplan")
    assert(lim.collect().length == 7)

    // manifest-backed statistics surface to Catalyst (drives join planning)
    val stats = spark.read.format("btr").load(dir).queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(6000)), s"rowCount from manifest: $stats")
  }

  test("task-commit protocol: retried/speculative attempts leave one readable copy") {
    import graft.engine.BtrEncoder
    import org.apache.hadoop.fs.Path
    val dir = tmp("commit")
    val blocksDir = s"$dir/blocks"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(blocksDir).getFileSystem(conf)
    fs.mkdirs(new Path(blocksDir))
    // a crashed first attempt leaves a partial temp file behind
    val stale = new Path(blocksDir, ".tmp-part-00000-attempt-1")
    val os = fs.create(stale, true); os.write(Array[Byte](1, 2, 3)); os.close()

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType, false)))
    val colTypes = BtrEncoder.validateSchema(schema)
    def rows = (0 until 1000).iterator.map { i =>
      org.apache.spark.sql.catalyst.InternalRow(
        i, org.apache.spark.unsafe.types.UTF8String.fromString(s"val_$i"))
    }
    // retried attempt commits; a later speculative duplicate re-runs the
    // same partition and must not corrupt the committed file
    for (attempt <- Seq(2L, 3L)) {
      val w = new BtrDataWriter(conf, blocksDir, 0, attempt, schema, colTypes, BtrConfig(blockSize = 128))
      try { rows.foreach(w.write); w.commit() }
      finally w.close()
    }

    val listed = fs.listStatus(new Path(blocksDir)).map(_.getPath.getName).sorted
    assert(listed.count(_.startsWith("part-")) == 1, s"exactly one committed file: ${listed.mkString(",")}")
    assert(!listed.exists(_.contains("attempt-2")) && !listed.exists(_.contains("attempt-3")),
      s"no attempt temp files left: ${listed.mkString(",")}")
    // the stale crashed-attempt file is invisible to the reader (part-* filter)
    // and the committed file reads back fully
    val m = graft.format.BtrManifest(
      columns = Seq(graft.format.ColumnMeta("id", graft.codec.ColType.Integer),
        graft.format.ColumnMeta("s", graft.codec.ColType.String)),
      numPartitions = 1, blockSize = 128, maxCascadeDepth = 3,
      numRows = 1000, rawBytes = 1, encBytes = 1, completedPartitions = Seq(0))
    graft.engine.BtrTable.writeManifest(spark, dir, m)
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 1000)
    assert(back.where("id = 999").head().getString(1) == "val_999")
  }

  test("compressed-frame range exchange: map-side encode + frame shuffle round-trips") {
    import spark.implicits._
    val dir = tmp("cxr")
    val df = (0 until 6000)
      .map(i => (s"repo${i % 7}", s"path/f$i.scala", i, i * 0.25, s"line $i\n" * (1 + i % 4)))
      .toDF("repo", "path", "v", "d", "content").repartition(5)
    val m = BlockFiles.write(df, dir, BtrConfig(blockSize = 256),
      rangeCols = Seq("repo", "path"), compressedExchange = true)
    assert(m.numRows == 6000)
    assert(m.encBytes < m.rawBytes, s"compressed ${m.encBytes} < raw ${m.rawBytes}")
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 6000)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("compressed exchange spreads frames over multiple writers (chunk-quantile bounds)") {
    import spark.implicits._
    val dir = tmp("cxr_spread")
    // 8 sorted-within-partition splits x many chunks: the single-pass bounds
    // sampler must place frames across writers, not funnel them into one
    // (the row-quantile regression sent every partition-min key to writer 0)
    val df = (0 until 8000)
      .map(i => (s"k${"%05d".format(i % 997)}", i, s"body $i"))
      .toDF("key", "v", "content").repartition(8)
    BlockFiles.write(df, dir, BtrConfig(blockSize = 128),
      rangeCols = Seq("key"), compressedExchange = true)
    val files = new java.io.File(new java.net.URI(s"$dir/blocks"))
      .listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length > 2, s"frames funneled into ${files.length} writer(s)")
    val sizes = files.map(_.length())
    assert(sizes.max < sizes.sum, "one writer holds everything")
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 8000)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("compressed exchange: a writer's chunks follow the key order, not the split order") {
    val dir = tmp("cxr_order")
    // split 0 holds the high keys 1024..2047, split 1 the low keys 0..1023;
    // each split encodes four 256-row chunks and one writer takes all eight
    val df = spark.range(0, 2048, 1, 2).selectExpr("CAST(2047 - id AS INT) AS k", "concat('v', id) AS s")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("k"),
      compressedExchange = true, numPartitions = 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val r = new FrameReader(s"$dir/blocks/part-00000", conf)
    val mins = Seq.newBuilder[Long]
    try while (r.nextHeader()) { mins += r.zone(0).lmin; r.finishChunk() } finally r.close()
    assert(mins.result() == (0 until 2048 by 256).map(_.toLong),
      s"chunk zones must ascend: ${mins.result()}")
  }

  test("column rule: a chunk lacking a declared column, or holding it as another type, is a named error") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val two = tmp("colrule2")
    val three = tmp("colrule3")
    BlockFiles.write((0 until 300).map(i => (i, i * 2)).toDF("a", "b").coalesce(1), two,
      BtrConfig(blockSize = 128))
    // c is nullable, so COUNT(c) stays a column count (not COUNT(*))
    BlockFiles.write((0 until 300).map(i => (i, s"b$i", Option(i))).toDF("a", "b", "c").coalesce(1), three,
      BtrConfig(blockSize = 128))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(two).getFileSystem(conf)
    val bytes = { val in = fs.open(new Path(s"$two/blocks/part-00000")); try in.readAllBytes() finally in.close() }
    val os = fs.create(new Path(s"$three/blocks/part-00099"), true)
    try os.write(bytes) finally os.close()
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    val t = spark.read.format("btr").load(three)
    // COUNT(c) folds from headers: the copied chunks hold no column 2
    val ec = messages(intercept[Exception](t.agg(count("c")).head()))
    assert(ec.contains("part-00099") && ec.contains("chunk #0") &&
      ec.contains("column 2 is missing") && ec.contains("declares 3 columns, the chunk holds 2"), ec)
    // the plain scan decodes every column: column 1 is int in the copied file
    val es = messages(intercept[Exception](t.collect()))
    assert(es.contains("part-00099") && es.contains("chunk #0") &&
      es.contains("column 1 holds int, the table declares string"), es)
  }

  test("bounds sample: per-split emission stays inside the key budget at 10,000 splits") {
    // a pure function of (chunks in the split, splits in the input): no task runs
    val splits = 10000
    val perSplit = (0 until splits).map(i => BlockFiles.boundsEmission(1L + i % 500, splits))
    assert(perSplit.forall(_ >= 1), "every non-empty split emits a key")
    assert(perSplit.map(_.toLong).sum <= math.max(BlockFiles.KeyBudget, splits),
      s"sampled keys ${perSplit.map(_.toLong).sum} over budget ${BlockFiles.KeyBudget}")
    // few splits stay under the budget: one key per chunk start, at most 64
    assert(BlockFiles.boundsEmission(1, 2) == 1)
    assert(BlockFiles.boundsEmission(10, 2) == 10)
    assert(BlockFiles.boundsEmission(1000, 2) == 64)
    assert(BlockFiles.boundsEmission(1000, 1 << 20) == 1)
  }

  test("binary range partitioner: bounds binary search respects unsigned lexicographic order") {
    val b = Array(Array[Byte](10), Array[Byte](20), Array[Byte](-1, 0)) // -1 = 0xff unsigned
    val p = new BlockFiles.BinaryRangePartitioner(4, b)
    assert(p.getPartition(Array[Byte](0)) == 0)
    assert(p.getPartition(Array[Byte](10)) == 1, "boundary key goes right")
    assert(p.getPartition(Array[Byte](15)) == 1)
    assert(p.getPartition(Array[Byte](20, 5)) == 2)
    assert(p.getPartition(Array[Byte](-2)) == 2, "0xfe sorts below 0xff00 unsigned")
    assert(p.getPartition(Array[Byte](-1, 1)) == 3, "0xff01 above the last bound")
  }

  test("columnar read path: scan reports columnar batches") {
    import spark.implicits._
    val dir = tmp("columnar")
    val df = (0 until 3000).map(i => (i, s"s$i", i * 0.5)).toDF("id", "s", "d")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 512))
    val q = spark.read.format("btr").load(dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"scan must be columnar:\n$plan")
    assert(q.agg(sum("id"), sum("d")).head().getLong(0) == (0 until 3000).map(_.toLong).sum)
    // limit pushdown still honored through the columnar reader
    assert(spark.read.format("btr").load(dir).limit(13).collect().length == 13)
  }

  test("double and string zone maps skip chunks, results exact") {
    import spark.implicits._
    val dir = tmp("zskip3")
    val df = (0 until 8192).map(i => (i, f"k$i%05d", i * 1.5)).toDF("id", "s", "d")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))

    val qd = spark.read.format("btr").load(dir)
      .where(col("d") >= 1500.0 && col("d") < 1650.0)
    assert(qd.queryExecution.executedPlan.toString.contains("zoneFilters=d:"),
      "double range filter must reach the scan")
    assert(qd.collect().map(_.getInt(0)).sorted.toSeq == (1000 until 1100).toSeq)

    val qs = spark.read.format("btr").load(dir).where(col("s") === "k04321")
    assert(qs.queryExecution.executedPlan.toString.contains("zoneFilters=s:"),
      "string equality filter must reach the scan")
    assert(qs.collect().map(_.getInt(0)).toSeq == Seq(4321))

    // null-safe equality pushes identically (columns are non-null)
    val qn = spark.read.format("btr").load(dir).where(col("s") <=> "k04321")
    assert(qn.queryExecution.executedPlan.toString.contains("zoneFilters=s:"),
      "EqualNullSafe must reach the scan")
    assert(qn.collect().map(_.getInt(0)).toSeq == Seq(4321))

    // inclusive ranges on both typed columns, bounds included exactly
    val qdr = spark.read.format("btr").load(dir).where(col("d").between(750.0, 899.5))
    assert(qdr.queryExecution.executedPlan.toString.contains("zoneFilters=d:"))
    assert(qdr.collect().map(_.getInt(0)).sorted.toSeq == (500 until 600).toSeq)
    val qsr = spark.read.format("btr").load(dir).where(col("s").between("k01000", "k01099"))
    assert(qsr.queryExecution.executedPlan.toString.contains("zoneFilters=s:"))
    assert(qsr.collect().map(_.getInt(0)).sorted.toSeq == (1000 until 1100).toSeq)
    // the INT-only BtrTable.loadPruned rejects the other column types
    intercept[IllegalArgumentException] { graft.engine.BtrTable.loadPruned(spark, dir, "d", 0, 1) }
    intercept[IllegalArgumentException] { graft.engine.BtrTable.loadPruned(spark, dir, "s", 0, 1) }

    // reader-level evidence for both predicate kinds
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val files = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).sorted
    var skippedD = 0L
    var skippedS = 0L
    files.foreach { f =>
      skippedD += ReadFile(f, conf, Array(0), Array(DoubleCmpPred(2, 1500.0, 1649.5))).chunksSkipped
      skippedS += ReadFile(f, conf, Array(0),
        Array(StringCmpPred(1, StrOp.EQ, UTF8String.fromString("k04321")))).chunksSkipped
    }
    assert(skippedD > 20, s"double zones must skip most of the 32 chunks: $skippedD")
    assert(skippedS > 20, s"string zones must skip most of the 32 chunks: $skippedS")
  }

  test("DSv2 write: df.write.format(btr) round-trips; rangeCols clusters via Spark's exchange") {
    import spark.implicits._
    val dir = tmp("dsv2write")
    val df = (0 until 8192).map(i => (i, s"name_${i % 13}", i * 0.5)).toDF("id", "name", "score")
      .repartition(5)
    df.write.format("btr").mode("overwrite")
      .option("rangeCols", "id").option("blockSize", "256")
      .save(dir)
    val m = graft.engine.BtrTable.readManifest(spark, dir)
    assert(m.numRows == 8192)
    assert(m.encBytes < m.rawBytes)
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 8192)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)

    // RequiresDistributionAndOrdering did the clustering: id zone maps are
    // tight enough that a selective range skips most chunks
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val files = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).sorted
    var skipped = 0L
    files.foreach { f =>
      skipped += ReadFile(f, conf, Array(0), Array(IntCmpPred(0, 1000, 1099))).chunksSkipped
    }
    assert(skipped > 20, s"range-clustered write must give skippable zones: $skipped")

    // append is refused with a clear message; overwrite replaces
    val e = intercept[Exception] {
      df.limit(10).write.format("btr").mode("append").save(dir)
    }
    assert(e.getMessage != null)
    df.limit(100).write.format("btr").mode("overwrite").option("blockSize", "64").save(dir)
    assert(spark.read.format("btr").load(dir).count() == 100)
  }

  test("targetPartitionBytes writer option: needs rangeCols, write still round-trips") {
    import spark.implicits._
    val dir = tmp("advisory")
    val df = (0 until 2000).map(i => (i, s"value_$i")).toDF("id", "s")
    val e = intercept[Exception] {
      df.write.format("btr").mode("overwrite")
        .option("targetPartitionBytes", "1048576").save(dir)
    }
    assert(String.valueOf(e.getMessage).contains("rangeCols"),
      s"clear error expected: ${e.getMessage}")
    df.write.format("btr").mode("overwrite")
      .option("rangeCols", "id").option("targetPartitionBytes", "1048576")
      .save(dir)
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 2000)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("IN-set zone pushdown: chunks missing every set member are skipped") {
    import spark.implicits._
    val dir = tmp("inset")
    val df = (0 until 8192).map(i => (i, f"k$i%05d", i * 1.5)).toDF("id", "s", "d")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))

    val q = spark.read.format("btr").load(dir)
      .where(col("id").isin(105, 3205, 7405))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("zoneFilters=id:"), s"IN filter must reach the scan:\n$plan")
    assert(q.collect().map(_.getInt(0)).sorted.toSeq == Seq(105, 3205, 7405))

    // string IN set through the same path
    val qs = spark.read.format("btr").load(dir).where(col("s").isin("k00105", "k07405"))
    assert(qs.collect().map(_.getInt(0)).sorted.toSeq == Seq(105, 7405))
    // members are searched in UTF-8 byte order, which differs from String
    // (UTF-16) order: U+FFFD (EF BF BD) sorts below U+1F600 (F0 9F 98 80)
    // in bytes but above it in UTF-16
    val dirU = tmp("inset_utf8")
    BlockFiles.write(Seq("a", "\uFFFD", "\uD83D\uDE00").toDF("s"), dirU)
    val qu = spark.read.format("btr").load(dirU).where(col("s").isin("\uD83D\uDE00", "\uFFFD"))
    assert(qu.collect().map(_.getString(0)).sorted.toSeq == Seq("\uD83D\uDE00", "\uFFFD").sorted)

    // reader-level evidence: only the 3 chunks containing a member decode
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val files = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).sorted
    var skipped = 0L
    var skippedS = 0L
    files.foreach { f =>
      skipped += ReadFile(f, conf, Array(0), Array(IntInPred(0, Seq(105L, 3205L, 7405L)))).chunksSkipped
      skippedS += ReadFile(f, conf, Array(0),
        Array(StringInPred(1, Seq("k00105", "k07405").map(UTF8String.fromString)))).chunksSkipped
    }
    assert(skipped >= 29, s"29+ of 32 chunks must be skipped for a 3-member set: $skipped")
    assert(skippedS >= 29, s"string IN must skip too: $skippedS")

    // an infeasible set (non-integral equality over ints) skips everything
    var all = 0L
    files.foreach { f =>
      all += ReadFile(f, conf, Array(0), Array(IntInPred(0, Seq.empty))).rows.length
    }
    assert(all == 0, s"empty feasible set must decode nothing: $all")

    // beyond 1024 members the check stays exact (no [min,max] hull): one
    // file of ids 0, 8, …, 65528 in 32 chunks of 256 (chunk k spans
    // [2048k, 2048k + 2040]); 2000 members lie only in chunk 0's and chunk
    // 31's ranges, so the 30 chunks between them hold no member
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dirW = tmp("inset_wide")
    BlockFiles.write((0 until 8192).map(i => i * 8).toDF("id").coalesce(1), dirW,
      BtrConfig(blockSize = 256))
    val members = (0 until 1000) ++ (64000 until 65000)
    val qw = spark.read.format("btr").load(dirW).where(col("id").isin(members: _*))
    assert(qw.collect().map(_.getInt(0)).sorted.toSeq == members.filter(_ % 8 == 0))
    val scanW = qw.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scanW.metrics("chunksTotal").value == 32)
    assert(scanW.metrics("chunksSkipped").value == 30,
      s"a 2000-member IN set must skip exactly the 30 member-free chunks: " +
        s"${scanW.metrics("chunksSkipped").value}")
  }

  test("min/max aggregate pushdown answers from zone headers, falls back per chunk") {
    import spark.implicits._
    val dir = tmp("aggmm")
    val df = (0 until 8192).map(i => (i, f"k$i%05d", i * 1.5)).toDF("id", "s", "d")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))

    val q = spark.read.format("btr").load(dir)
      .agg(min("id").as("mn"), max("id").as("mx"), count(lit(1)).as("n"),
        min("s").as("smn"), max("s").as("smx"), min("d").as("dmn"), max("d").as("dmx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BtrAggScan"), s"min/max must use the headers-only scan:\n$plan")
    val r = q.head()
    assert(r.getInt(0) == 0 && r.getInt(1) == 8191 && r.getLong(2) == 8192)
    assert(r.getString(3) == "k00000" && r.getString(4) == "k08191")
    assert(r.getDouble(5) == 0.0 && r.getDouble(6) == 8191 * 1.5)

    // zone-less chunks (long strings > 64 bytes) force the decode fallback;
    // values must still be exact
    val dir2 = tmp("aggmm_fb")
    val long = (0 until 2000).map(i => (i, f"v$i%05d" + ("x" * 100))).toDF("id", "t")
    BlockFiles.write(long, dir2, BtrConfig(blockSize = 128))
    val r2 = spark.read.format("btr").load(dir2).agg(min("t"), max("t")).head()
    assert(r2.getString(0) == "v00000" + ("x" * 100))
    assert(r2.getString(1) == "v01999" + ("x" * 100))

    // NaN chunks drop their double zones; Spark's ordering (NaN greatest)
    // must survive the fallback
    val dir3 = tmp("aggmm_nan")
    val nan = ((0 until 1000).map(i => (i, i * 0.5)) :+ ((1000, Double.NaN)))
      .toDF("id", "d")
    BlockFiles.write(nan, dir3, BtrConfig(blockSize = 128))
    val r3 = spark.read.format("btr").load(dir3).agg(min("d"), max("d")).head()
    assert(r3.getDouble(0) == 0.0)
    assert(r3.getDouble(1).isNaN, s"NaN is the Spark max: ${r3.getDouble(1)}")

    // one file whose every chunk the filter zone-rejects (the file's own
    // zone spans the gap, so it survives planning): the ungrouped reader
    // still yields its one partial row — count 0, MIN/SUM NULL
    val dir4 = tmp("aggmm_gap")
    val gap = ((0 until 1024) ++ (2048 until 3072)).toDF("id")
    BlockFiles.write(gap.coalesce(1), dir4, BtrConfig(blockSize = 256))
    val q4 = spark.read.format("btr").load(dir4).where(col("id").between(1100, 1200))
      .agg(count(lit(1)), min("id"), sum("id"))
    assert(q4.queryExecution.executedPlan.toString.contains("BtrAggScan"))
    val r4 = q4.head()
    assert(r4.getLong(0) == 0 && r4.isNullAt(1) && r4.isNullAt(2), s"got $r4")
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = new BtrAggReader(s"$dir4/blocks/part-00000", conf, Array(ColType.Integer.toInt),
      Seq(CountSpec, MinMaxSpec(0, isMin = true), SumSpec(0, isDouble = false)),
      zones = Array(IntCmpPred(0, 1100, 1200)), exact = Array(IntCmpPred(0, 1100, 1200)))
    try {
      assert(rd.next(), "an ungrouped aggregate emits one row per file")
      assert(rd.get().getLong(0) == 0 && rd.get().isNullAt(1) && rd.get().isNullAt(2))
      assert(!rd.next(), "exactly one row")
      val m = rd.currentMetricsValues().map(x => x.name() -> x.value()).toMap
      assert(m("chunksTotal") == 8 && m("chunksSkipped") == 8, s"every chunk zone-rejected: $m")
    } finally rd.close()
  }

  test("SUM pushdown folds v6 header sums; filtered, NaN and null fallbacks") {
    import spark.implicits._
    val dir = tmp("aggsum")
    // doubles are multiples of 0.5 with small magnitude: every partial sum
    // is exactly representable, so pushed and unpushed sums are bit-equal
    // regardless of association
    val df = (0 until 8192).map(i => (i, i * 0.5, s"s$i")).toDF("id", "d", "s")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))

    val q = spark.read.format("btr").load(dir)
      .agg(sum("id").as("si"), sum("d").as("sd"), count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BtrAggScan") && plan.contains("sum(id)"),
      s"sum must use the headers-only scan:\n$plan")
    val r = q.head()
    assert(r.getLong(0) == (0 until 8192).map(_.toLong).sum)
    assert(r.getDouble(1) == (0 until 8192).map(_ * 0.5).sum)
    assert(r.getLong(2) == 8192)

    // filtered: fully-covered chunks fold from header sums, boundary chunks
    // decode — same three-way split as filtered COUNT/MIN/MAX
    val qf = spark.read.format("btr").load(dir)
      .where(col("id").between(1000, 4999)).agg(sum("id").as("si"))
    val fplan = qf.queryExecution.executedPlan.toString
    assert(fplan.contains("BtrAggScan"), s"filtered sum must push:\n$fplan")
    assert(qf.head().getLong(0) == (1000 to 4999).map(_.toLong).sum)

    // NaN chunk: its double zone (and sum) is dropped → decode fallback;
    // NaN propagates exactly like Spark's own sum
    val dirN = tmp("aggsum_nan")
    val nan = ((0 until 1000).map(i => (i, i * 0.5)) :+ ((1000, Double.NaN))).toDF("id", "d")
    BlockFiles.write(nan, dirN, BtrConfig(blockSize = 128))
    assert(spark.read.format("btr").load(dirN).agg(sum("d")).head().getDouble(0).isNaN)

    // nulls are ignored; an all-null column sums to SQL NULL
    val dirU = tmp("aggsum_null")
    val nl = (0 until 2000)
      .map(i => (i, if (i % 3 == 0) None else Some(i), Option.empty[Double]))
      .toDF("id", "v", "dn")
    BlockFiles.write(nl, dirU, BtrConfig(blockSize = 256))
    val ru = spark.read.format("btr").load(dirU).agg(sum("v"), sum("dn")).head()
    assert(ru.getLong(0) == (0 until 2000).filter(_ % 3 != 0).map(_.toLong).sum)
    assert(ru.isNullAt(1), "sum of an all-null column is NULL")
  }

  test("chunksSkipped surfaces as a DSv2 custom metric") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tmp("metric")
    val df = (0 until 8192).map(i => (i, s"p$i")).toDF("id", "s")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))
    val q = spark.read.format("btr").load(dir).where(col("id").between(1000, 1099))
    assert(q.collect().length == 100)
    val scan = q.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
    assert(scan.isDefined, "BatchScanExec expected in the executed plan")
    val metric = scan.get.metrics.get("chunksSkipped")
    assert(metric.isDefined, s"custom metric registered: ${scan.get.metrics.keys}")
    // file-level pruning removes most files before any reader runs; the
    // surviving file(s) still skip their out-of-range chunks, observably
    assert(metric.get.value > 0, s"metric must record the skipped chunks: ${metric.get.value}")
  }

  test("corrupt block files fail with file + chunk context, not a bare EOF") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tmp("corrupt")
    val df = (0 until 2000).map(i => (i, s"payload_$i")).toDF("id", "s")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val orig = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val bytes = {
      val in = fs.open(orig)
      val b = try in.readAllBytes() finally in.close()
      b
    }

    // truncated mid-frame: error names the file and the chunk
    val tPath = new Path(s"$dir/blocks_trunc")
    fs.mkdirs(tPath)
    val tf = new Path(tPath, "part-00000")
    val os = fs.create(tf, true)
    os.write(bytes, 0, bytes.length - 7)
    os.close()
    val e = intercept[java.io.IOException](ReadFile(tf.toString, conf, Array(0)))
    assert(e.getMessage.contains("part-00000") && e.getMessage.contains("chunk #"),
      s"error must name file and chunk: ${e.getMessage}")

    // bit-flipped magic: refused up front with the file named
    val mf = new Path(tPath, "part-00001")
    val os2 = fs.create(mf, true)
    val flipped = bytes.clone(); flipped(0) = (flipped(0) ^ 0x40).toByte
    os2.write(flipped)
    os2.close()
    val e2 = intercept[java.io.IOException](ReadFile(mf.toString, conf, Array(0)))
    assert(e2.getMessage.contains("part-00001") && e2.getMessage.contains("not a btr block file"),
      s"magic check must name the file: ${e2.getMessage}")

    // a SILENT bit flip deep inside the file (zone map, meta, or blob) is
    // caught by the CRCs as a named checksum error, never wrong data
    val ff = new Path(tPath, "part-00002")
    val os3 = fs.create(ff, true)
    val flipped2 = bytes.clone()
    flipped2(bytes.length * 3 / 5) = (flipped2(bytes.length * 3 / 5) ^ 0x10).toByte
    os3.write(flipped2)
    os3.close()
    val e3 = intercept[java.io.IOException](ReadFile(ff.toString, conf, Array(0, 1)))
    assert(e3.getMessage.contains("part-00002") &&
      (e3.getMessage.contains("checksum mismatch") || e3.getMessage.contains("corrupt")),
      s"bit flip must surface as a named corruption: ${e3.getMessage}")

    // only the current frame version is read: a file declaring version 5
    // is refused up front with the file named
    val vf = new Path(tPath, "part-00003")
    val os4 = fs.create(vf, true)
    val v5 = bytes.clone(); v5(4) = 5
    os4.write(v5)
    os4.close()
    val e4 = intercept[java.io.IOException](ReadFile(vf.toString, conf, Array(0)))
    assert(e4.getMessage.contains("part-00003") &&
      e4.getMessage.contains("unsupported btr block version 5"),
      s"an old version must be named: ${e4.getMessage}")

    // a sum-less numeric zone (kind 1, written by no current encoder) is
    // refused by name even under a valid header CRC: rewrite a one-column
    // frame's kind-4 zone [min][max][sum] as kind 1 [min][max]
    val f6 = BlockFiles.frameChunk(Seq(graft.engine.ChunkEncoder.encodeInt(
      "v", Array(7, 8, 9), 3, BtrConfig.default))).bytes
    // [i32 numRows][u8 nCols][i32 headerCrc][u8 colType][i32 blobLen][i32 blobCrc][u8 zoneKind]
    assert(f6(18) == 4, s"expected a long zone with sum, got kind ${f6(18)}")
    val f1 = f6.take(18) ++ Array[Byte](1) ++ f6.slice(19, 35) ++ f6.drop(43)
    val hc = new java.util.zip.CRC32C
    hc.update(f1, 0, 5)
    hc.update(f1, 9, 39 - 9) // meta: colType .. nullCount (no bitmap)
    val crc = hc.getValue.toInt
    (0 until 4).foreach(k => f1(5 + k) = (crc >>> (8 * k)).toByte)
    val kf = new Path(tPath, "part-00004")
    val os5 = fs.create(kf, true)
    os5.write(bytes.take(5) ++ f1)
    os5.close()
    val e5 = intercept[java.io.IOException](ReadFile(kf.toString, conf, Array(0)))
    assert(e5.getMessage.contains("part-00004") && e5.getMessage.contains("bad zoneKind 1"),
      s"a sum-less numeric zone must be named: ${e5.getMessage}")
  }

  test("corruption property: any single flipped byte yields a named error or untouched data, never silent wrong rows") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tmp("fuzz")
    val df = (0 until 1500).map(i => (i, s"value_$i", i * 0.25)).toDF("id", "s", "d")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val orig = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath).filter(_.getName.startsWith("part-")).minBy(_.getName)
    val bytes = { val in = fs.open(orig); try in.readAllBytes() finally in.close() }

    def readAllRows(file: String): Seq[(Int, String, Double)] =
      ReadFile(file, conf, Array(0, 1, 2)).rows.map(row =>
        (row.getInt(0), row.getUTF8String(1).toString, row.getDouble(2)))
    val clean = readAllRows(orig.toString)
    assert(clean.nonEmpty)

    val rnd = new scala.util.Random(91)
    val fuzzDir = new Path(s"$dir/fuzz")
    fs.mkdirs(fuzzDir)
    var named = 0
    var intact = 0
    for (trial <- 0 until 48) {
      val posn = rnd.nextInt(bytes.length)
      val mutated = bytes.clone()
      mutated(posn) = (mutated(posn) ^ (1 << rnd.nextInt(8))).toByte
      val f = new Path(fuzzDir, f"part-$trial%05d")
      val os = fs.create(f, true)
      os.write(mutated)
      os.close()
      try {
        val got = readAllRows(f.toString)
        // no error -> the flip must not have changed a single value
        // (e.g. it landed in a byte the reader never touches)
        assert(got == clean,
          s"flip at byte $posn produced silently different data (trial $trial)")
        intact += 1
      } catch {
        case e: java.io.IOException =>
          assert(e.getMessage != null && e.getMessage.contains(f"part-$trial%05d"),
            s"error must name the file (trial $trial, byte $posn): ${e.getMessage}")
          named += 1
      }
    }
    // the CRCs make detection the overwhelmingly common outcome
    assert(named > 30, s"most flips must be detected: named=$named intact=$intact")
  }

  test("failed overwrite leaves the previous table intact (staged swap)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tmp("stagedow")
    val df = (0 until 1000).map(i => (i, s"v$i")).toDF("id", "s")
    df.write.format("btr").mode("overwrite").save(dir)

    val bad = spark.range(1000).as[Long]
      .map { i => if (i == 500L) sys.error("boom mid-write"); (i.toInt, "x") }
      .toDF("id", "s")
    intercept[Exception] {
      bad.write.format("btr").mode("overwrite").save(dir)
    }
    // old table fully readable; staging debris gone
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 1000)
    assert(back.where("id = 7").head().getString(1) == "v7")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/.staging-blocks")), "staging dir must be cleaned on abort")

    // a successful overwrite still swaps in the new data
    (0 until 50).map(i => (i, "new")).toDF("id", "s")
      .write.format("btr").mode("overwrite").save(dir)
    assert(spark.read.format("btr").load(dir).count() == 50)
    assert(!fs.exists(new Path(s"$dir/.staging-blocks")))
  }

  test("failed BlockFiles.write over an existing table leaves it intact") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val fs = new Path(tmp("bf_failed")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val good = (0 until 1000).map(i => (i, s"v$i")).toDF("id", "s")
    // the raw shape reads its input once; the compressed exchange twice
    // (bounds sample, then encode): failing on the last pass over row 999,
    // the last row of the last input partition, fails the write job
    // itself, once the other partitions' block files are written
    for ((compressed, passes) <- Seq(false -> 1, true -> 2)) {
      val dir = tmp(s"bf_failed_$compressed")
      val rangeCols = if (compressed) Seq("id") else Nil
      BlockFiles.write(good, dir, BtrConfig(blockSize = 128), rangeCols, compressed)
      FailingPass.seen.set(0)
      val bad = good.as[(Int, String)].map { case (i, _) =>
        if (i == 999 && FailingPass.seen.incrementAndGet() == passes) sys.error("boom mid-write")
        (i, "x")
      }.toDF("id", "s")
      intercept[Exception] {
        BlockFiles.write(bad, dir, BtrConfig(blockSize = 128), rangeCols, compressed)
      }
      assert(FailingPass.seen.get() == passes, s"compressed=$compressed")
      val back = spark.read.format("btr").load(dir)
      assert(back.count() == 1000, s"compressed=$compressed")
      assert(back.where("id = 999").head().getString(1) == "v999")
      assert(!fs.exists(new Path(s"$dir/.staging-blocks")), "staging dir must be cleaned on abort")
    }
  }

  test("a block file is never created outside an existing dir (no debris after an abort)") {
    import org.apache.hadoop.fs.Path
    // a task that outlives its job's abort appends into the dir the abort
    // deleted: the append must fail, not re-create the dir
    val dir = new Path(tmp("nodir"), ".staging-blocks")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val ids = Array.tabulate(16)(identity)
    val frame = BlockFiles.frameChunk(Seq(
      graft.engine.ChunkEncoder.encodeInt("id", ids, 16, BtrConfig.default)))
    val w = new BlockFiles.BlockFileWriter(conf, dir.toString, 0, 0L)
    try intercept[java.io.IOException](w.append(frame))
    finally w.close()
    assert(!fs.exists(dir), s"$dir must stay absent")
  }

  test("a write of more than 255 columns fails at planning with a named error") {
    val dir = tmp("wide256")
    val wide = spark.range(1).select((0 until 256).map(i => lit(i).as(s"c$i")): _*)
    val e = intercept[IllegalArgumentException] {
      wide.write.format("btr").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("256 columns > 255"), e.getMessage)
    assert(!new java.io.File(dir.stripPrefix("file:"), graft.engine.BtrTable.ManifestFile).exists())
  }

  test("file-level zone index prunes whole block files at planning time") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tmp("filezones")
    // range exchange on id -> each of the shuffle partitions' files covers a
    // disjoint id range; a selective filter must plan only 1-2 of them
    val df = (0 until 8192).map(i => (i, f"k$i%05d", i * 1.5)).toDF("id", "s", "d")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(graft.format.ZoneIndex.read(conf, dir).exists(_.nonEmpty), "index written by BlockFiles.write")

    val q = spark.read.format("btr").load(dir).where(col("id").between(1000, 1099))
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"planning-time file count must show in the scan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"a selective range must prune files: ${m.get.matched}")
    assert(q.collect().map(_.getInt(0)).sorted.toSeq == (1000 to 1099))

    // string + IN predicates prune files too
    val qs = spark.read.format("btr").load(dir).where(col("s").isin("k00105", "k00110"))
    val ms = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(qs.queryExecution.executedPlan.toString)
    assert(ms.exists(x => x.group(1).toInt < x.group(2).toInt), s"IN must prune files: $ms")
    assert(qs.collect().map(_.getInt(0)).sorted.toSeq == Seq(105, 110))

    // without the index, same results (chunk-level skip only), full file list
    val fs = new Path(dir).getFileSystem(conf)
    fs.delete(new Path(dir, graft.format.ZoneIndex.FileName), false)
    val q2 = spark.read.format("btr").load(dir).where(col("id").between(1000, 1099))
    val m2 = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(q2.queryExecution.executedPlan.toString)
    assert(m2.exists(x => x.group(1) == x.group(2)), s"no index -> no file pruning: $m2")
    assert(q2.collect().length == 100)
  }

  test("DSv2 write and compressed exchange produce the zone index; overwrite replaces it") {
    import spark.implicits._
    val dir = tmp("filezones_w")
    val conf = spark.sparkContext.hadoopConfiguration
    val df = (0 until 4096).map(i => (i, s"n$i")).toDF("id", "s")
    // pin the writer count (AQE would coalesce this tiny shuffle to one
    // partition = one file, leaving nothing to prune)
    df.write.format("btr").mode("overwrite")
      .option("rangeCols", "id").option("blockSize", "256")
      .option("numPartitions", "8").save(dir)
    val idx = graft.format.ZoneIndex.read(conf, dir)
    assert(idx.exists(_.nonEmpty), "DSv2 writer must publish the index")
    val q = spark.read.format("btr").load(dir).where(col("id") === 777)
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(777))
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(q.queryExecution.executedPlan.toString)
    assert(m.exists(x => x.group(1).toInt < x.group(2).toInt), s"point lookup plans few files: $m")

    // compressed-exchange path folds zones from the shuffled frame bytes
    val dir2 = tmp("filezones_cx")
    BlockFiles.write(df, dir2, BtrConfig(blockSize = 256),
      rangeCols = Seq("id"), compressedExchange = true)
    assert(graft.format.ZoneIndex.read(conf, dir2).exists(_.nonEmpty),
      "compressed exchange must publish the index")
    val q2 = spark.read.format("btr").load(dir2).where(col("id") === 777)
    assert(q2.collect().map(_.getInt(0)).toSeq == Seq(777))

    // overwrite with different data replaces the index (no stale pruning)
    (50000 until 51000).map(i => (i, "x")).toDF("id", "s")
      .write.format("btr").mode("overwrite").option("rangeCols", "id").save(dir)
    assert(spark.read.format("btr").load(dir).where(col("id") === 50123).count() == 1)
    assert(spark.read.format("btr").load(dir).where(col("id") === 777).count() == 0)
  }

  test("ZoneAccumulator fold over frame bytes equals the parts' own zones") {
    // the accumulator re-parses the serialized frame layout; if frameChunk's
    // byte layout ever drifts (as it did v3 -> v4), this pins the parity
    import graft.codec.StrSlicesBuilder
    import graft.engine.ChunkEncoder
    import java.nio.charset.StandardCharsets.UTF_8
    val cfg = BtrConfig.default
    def strings(v: String*) = {
      val b = new StrSlicesBuilder()
      v.foreach(s => b.add(s.getBytes(UTF_8)))
      b.result()
    }
    def chunk(base: Int) = Seq(
      ChunkEncoder.encodeInt("i", Array(base, base + 5, base + 9), 3, cfg),
      ChunkEncoder.encodeDouble("d", Array(base * 1.5, base * 2.5, base * 0.5), 3, cfg),
      ChunkEncoder.encodeStringSlices("s", strings(s"a$base", s"z$base", "m"), cfg))
    val acc = new graft.format.ZoneAccumulator
    acc.fold(BlockFiles.frameChunk(chunk(100)).bytes)
    acc.fold(BlockFiles.frameChunk(chunk(40)).bytes)
    val zs = acc.result().get
    assert(zs(0).kind == 1 && zs(0).lmin == 40 && zs(0).lmax == 109, s"int fold: ${zs(0)}")
    assert(zs(1).kind == 2)
    assert(java.lang.Double.longBitsToDouble(zs(1).lmin) == 20.0, "double min 40*0.5")
    assert(java.lang.Double.longBitsToDouble(zs(1).lmax) == 250.0, "double max 100*2.5")
    assert(zs(2).kind == 3)
    assert(new String(zs(2).smin, UTF_8) == "a100" && new String(zs(2).smax, UTF_8) == "z40",
      s"string fold: [${new String(zs(2).smin, UTF_8)}, ${new String(zs(2).smax, UTF_8)}]")
    // a zone-less chunk (long strings) kills only that column
    val acc2 = new graft.format.ZoneAccumulator
    acc2.fold(BlockFiles.frameChunk(Seq(
      ChunkEncoder.encodeInt("i", Array(1, 2), 2, cfg),
      ChunkEncoder.encodeStringSlices("t", strings("x" * 100, "y" * 100), cfg))).bytes)
    val zs2 = acc2.result().get
    assert(zs2(0).kind == 1 && zs2(1).kind == 0)
  }

  test("a corrupt zone index is ignored, never trusted to drop a file") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tmp("zidx_corrupt")
    val df = (0 until 4096).map(i => (i, s"v$i")).toDF("id", "s")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))
    val conf = spark.sparkContext.hadoopConfiguration
    val entry = graft.format.ZoneIndex.read(conf, dir).get
      .find(e => e.cols(0).lmin <= 5 && e.cols(0).lmax >= 5).get
    assert(entry.cols(0).kind == 1 && entry.cols(0).lmin >= 0, s"id zone: ${entry.cols(0)}")
    val idxPath = new Path(dir, graft.format.ZoneIndex.FileName)
    val fs = idxPath.getFileSystem(conf)
    val bytes = { val in = fs.open(idxPath); try in.readAllBytes() finally in.close() }
    // entry: [u16 nameLen][name][i64 rows][u8 nCols], then column 0's
    // [u8 kind][i64 min]: raise the min's low byte to 6 — the zone now
    // excludes id = 5
    val name = entry.file.getBytes("UTF-8")
    val at = bytes.indexOfSlice(name.toSeq) + name.length + 8 + 1 + 1
    assert(bytes(at - 1) == 1 && bytes(at) == entry.cols(0).lmin.toByte)
    bytes(at) = 6
    val os = fs.create(idxPath, true)
    try os.write(bytes) finally os.close()
    assert(spark.read.format("btr").load(dir).where(col("id") === 5).count() == 1)
    assert(graft.format.ZoneIndex.read(conf, dir).isEmpty, "a corrupt index must read as absent")
  }

  test("zone index binary round-trip") {
    import graft.format._
    val entries = Seq(
      FileZone("part-00000", IndexedSeq(
        ColZone(1, -5L, 4096L),
        ColZone(3, smin = "abc".getBytes("UTF-8"), smax = "zzé".getBytes("UTF-8")),
        ColZone(2, java.lang.Double.doubleToLongBits(-1.5), java.lang.Double.doubleToLongBits(99.25)),
        ColZone(0))),
      FileZone("part-00031", IndexedSeq(ColZone(1, 0L, 7L))))
    val back = ZoneIndex.fromBytes(ZoneIndex.toBytes(entries))
    assert(back.length == 2)
    assert(back(0).file == "part-00000" && back(1).file == "part-00031")
    assert(back(0).cols(0) == entries(0).cols(0).copy())
    assert(new String(back(0).cols(1).smax, "UTF-8") == "zzé")
    assert(back(0).cols(2).lmax == java.lang.Double.doubleToLongBits(99.25))
    assert(back(0).cols(3).kind == 0)
  }

  test("runtime join filtering (DPP analog): broadcast build keys prune files and chunks") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val dir = tmp("runtimef")
    val df = (0 until 8192).map(i => (i, f"k$i%05d")).toDF("id", "s")
    BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("id"))

    val fact = spark.read.format("btr").load(dir)
    // classic DPP shape: the build side is a real source with a selective
    // filter (a LocalRelation would fold the filter away and Spark skips
    // runtime pruning without a selective build-side predicate)
    val dimDir = tmp("runtimef_dim")
    (0 until 100)
      .map(i => (i * 37, if (i == 3 || i == 87) "keep" else s"other$i"))
      .toDF("k", "tag").write.mode("overwrite").parquet(dimDir)
    val dimF = spark.read.parquet(dimDir).where(col("tag") === "keep") // keys 111, 3219
    val q = fact.join(broadcast(dimF), fact("id") === dimF("k"))
    val rows = q.collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(111, 3219))

    def allScans(p: SparkPlan): Seq[BatchScanExec] = {
      val here = p match { case b: BatchScanExec => Seq(b); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      here ++ kids.flatMap(allScans)
    }
    val scans = allScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, s"btr scan expected:\n${q.queryExecution.executedPlan}")
    val scan = scans.head
    assert(scan.runtimeFilters.nonEmpty,
      s"Spark must inject the runtime filter for the broadcast join:\n${q.queryExecution.executedPlan}")
    // the build keys became zone predicates: only the 2 matching chunks
    // decode, everything else is skipped (or whole files pruned first)
    val out = scan.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    assert(out >= 2 && out <= 1024, s"runtime pruning must bound decoded rows: $out of 8192")
    assert(scan.metrics.get("chunksSkipped").exists(_.value >= 0))
  }

  test("runtime predicate translation: IN/= over each column type") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("i", IntegerType, false),
      StructField("d", DoubleType, false),
      StructField("s", StringType, false)))
    // build IN predicates through the public literal factory
    val litI = Expressions.literal(7)
    val litI2 = Expressions.literal(9)
    val pIn = new Predicate("IN", Array(Expressions.column("i"), litI, litI2))
    def runtime(p: Predicate) = PredTranslator(schema, p, claim = false)
    val z = runtime(pIn)
    assert(z.contains(IntInPred(0, Seq(7L, 9L))), s"got $z")
    def intZone(mn: Long, mx: Long) = IndexedSeq(graft.format.ColZone(kind = 1, lmin = mn, lmax = mx))
    assert(z.exists(_.rejects(intZone(10, 20))), "7,9 miss [10,20]")
    assert(!z.exists(_.rejects(intZone(5, 8))), "7 hits [5,8]")
    // a kind-3 zone of column s (columns i and d have none)
    def strZone(mn: Array[Byte], mx: Array[Byte]) = IndexedSeq(graft.format.ColZone.Unknown,
      graft.format.ColZone.Unknown, graft.format.ColZone(kind = 3, smin = mn, smax = mx))
    def strZone1(mn: String, mx: String) = strZone(mn.getBytes("UTF-8"), mx.getBytes("UTF-8"))

    val pEq = new Predicate("=", Array(Expressions.column("s"), Expressions.literal("abc")))
    val zs = runtime(pEq)
    assert(zs.exists(_.rejects(strZone1("abd", "b"))), s"abc misses [abd, b]: $zs")
    assert(!zs.exists(_.rejects(strZone1("abc", "abc"))), s"abc hits [abc, abc]: $zs")

    val pD = new Predicate("IN", Array(Expressions.column("d"), Expressions.literal(1.5)))
    val zd = runtime(pD)
    assert(zd.contains(DoubleInPred(1, Seq(1.5))), s"got $zd")

    // a range comparison translates too; an unknown column is ignored, not an error
    val zg = runtime(new Predicate(">", Array(Expressions.column("i"), litI)))
    assert(zg.exists(_.rejects(intZone(0, 7))), s"i > 7 misses [0,7]: $zg")
    assert(!zg.exists(_.rejects(intZone(5, 20))), s"i > 7 hits [5,20]: $zg")
    assert(runtime(new Predicate("IN", Array(Expressions.column("nope"), litI))).isEmpty)

    // a runtime string key with INVALID UTF-8 bytes is kept byte-exact: it
    // prunes only zones that hold neither member
    val badUtf8 = UTF8String.fromBytes(Array(0xC3.toByte))
    val goodUtf8 = UTF8String.fromString("ok")
    val zb = runtime(new Predicate("IN", Array(Expressions.column("s"),
      Expressions.literal(badUtf8), Expressions.literal(goodUtf8))))
    assert(!zb.exists(_.rejects(strZone(Array(0xC3.toByte), Array(0xC3.toByte)))),
      s"C3 hits [C3, C3]: $zb")
    assert(!zb.exists(_.rejects(strZone1("ok", "ok"))), s"ok hits [ok, ok]: $zb")
    assert(zb.exists(_.rejects(strZone1("p", "q"))), s"C3, ok miss [p, q]: $zb")
    val zo = runtime(new Predicate("=", Array(Expressions.column("s"), Expressions.literal(goodUtf8))))
    assert(zo.exists(_.rejects(strZone1("p", "q"))), s"ok misses [p, q]: $zo")
    assert(!zo.exists(_.rejects(strZone1("ok", "ok"))), s"ok hits [ok, ok]: $zo")

    // a string key set beyond 1024 members still yields an exact predicate
    val keys = (0 until 1025).map(i => f"k$i%04d")
    val pBig = new Predicate("IN",
      (Expressions.column("s") +: keys.map(k => Expressions.literal(k))).toArray)
    val translated = runtime(pBig).contains(StringInPred(2, keys.map(UTF8String.fromString)))
    assert(translated, "a 1025-member string IN must translate")
  }

  test("min/max pushdown matches Spark's own result bit-for-bit on signed zeros") {
    import spark.implicits._
    // NOTE: Spark normalizes -0.0 to 0.0 at UnsafeRow materialization, so
    // a -0.0 literal never reaches the table through a Spark pipeline; the
    // contract to pin is BIT parity between the zone-answered aggregate and
    // Spark's own aggregation over the identical data. (The encoder still
    // computes total-order extrema so a codec-level -0.0 — reachable via
    // the kernel API — folds exactly.)
    val dir = tmp("signedzero")
    val df = Seq((1, 0.0), (2, -0.0), (3, 1.5), (4, -2.25)).toDF("id", "d")
    BlockFiles.write(df, dir, BtrConfig.default)
    val ours = spark.read.format("btr").load(dir).agg(min("d"), max("d")).head()
    val ref = df.agg(min("d"), max("d")).head()
    assert(java.lang.Double.doubleToRawLongBits(ours.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(ref.getDouble(0)),
      s"min parity: ours=${ours.getDouble(0)} spark=${ref.getDouble(0)}")
    assert(java.lang.Double.doubleToRawLongBits(ours.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(ref.getDouble(1)))
    // codec-level: total-order extrema on a chunk that really holds -0.0
    val part = graft.engine.ChunkEncoder.encodeDouble("d",
      Array(0.0, -0.0, 3.5), 3, BtrConfig.default)
    assert(part.zone.kind == 2 && part.zone.lmin == java.lang.Double.doubleToRawLongBits(-0.0),
      s"zone min: ${java.lang.Double.longBitsToDouble(part.zone.lmin)}")
    assert(java.lang.Double.longBitsToDouble(part.zone.lmax) == 3.5)
  }

  test("batch read of a batch=* table returns exactly its contiguous published prefix") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = tmp("batches")
    def ids(lo: Int) = (lo until lo + 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
    for (b <- 0 until 4) BlockFiles.write(ids(b * 100), s"$dir/batch=$b", BtrConfig(blockSize = 32))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    // batch 2 unpublished (in flight or crashed): it and every later batch
    // stay invisible; batch 4 has block files but no manifest
    fs.delete(new Path(s"$dir/batch=2/${graft.engine.BtrTable.ManifestFile}"), false)
    BlockFiles.write(ids(400), s"$dir/batch=4", BtrConfig(blockSize = 32))
    fs.delete(new Path(s"$dir/batch=4/${graft.engine.BtrTable.ManifestFile}"), false)
    val t = spark.read.format("btr").load(dir)
    assert(t.as[(Int, String)].collect().map(_._1).sorted.toSeq == (0 until 200).toSeq)
    // pushdown plans over the same prefix, per-batch zone index included
    val q = t.where(col("id").between(120, 129))
    assert(q.queryExecution.executedPlan.toString.contains("files=1/2"), q.queryExecution.executedPlan)
    assert(q.count() == 10 && t.count() == 200)
    assert(t.agg(max("id")).head().getInt(0) == 199)
    // the batch lands: batches 2 and 3 become visible, 4 still not
    BlockFiles.write(ids(200), s"$dir/batch=2", BtrConfig(blockSize = 32))
    assert(spark.read.format("btr").load(dir).count() == 400)
  }

  test("range-partitioned blocks write") {
    import spark.implicits._
    val dir = tmp("range")
    val df = (0 until 3000).map(i => (s"repo${i % 5}", s"path/$i", i)).toDF("repo", "path", "v")
    val m = BlockFiles.write(df, dir, BtrConfig(blockSize = 256), rangeCols = Seq("repo", "path"))
    assert(m.numRows == 3000)
    val back = spark.read.format("btr").load(dir)
    assert(back.count() == 3000)
    assert(back.select(sum("v")).head().getLong(0) == (0 until 3000).map(_.toLong).sum)
  }
}

/** Counts visits of one row across the passes a write makes over its input
  * (local mode: tasks run in this JVM).
  */
object FailingPass {
  val seen = new java.util.concurrent.atomic.AtomicInteger
}
