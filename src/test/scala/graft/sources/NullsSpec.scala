package graft.sources

import graft.codec.BtrConfig
import graft.engine.{BlockFiles, BtrTable}
import graft.format.{BtrManifest, ColumnMeta, ZoneAccumulator, ZoneIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** The null extension (round-5): per-chunk validity bitmaps in the frames,
  * null-aware zones (extrema over non-nulls, exact null counts),
  * IsNull / IsNotNull pushdown at chunk AND file level, nullable
  * ColumnVector reads, and null-correct aggregate pushdown. The reference
  * model is non-null (SURVEY §1.2) — this is an explicit extension to match
  * Spark's data model.
  */
class NullsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("nulls-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"nulls_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  /** 4096 ordered rows, nulls in all three types: i_n null on id%7==0,
    * d_n null on id%5==0, s_n null on id%3==0, and s_n additionally
    * ALL-null for id in [512, 768) (one full 256-row chunk pair).
    */
  private def nullDf = spark.range(4096).selectExpr(
    "CAST(id AS INT) AS id",
    "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 100 AS INT) END AS i_n",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) * 0.5 END AS d_n",
    "CASE WHEN id >= 512 AND id < 768 THEN NULL WHEN id % 3 = 0 THEN NULL ELSE concat('s', id % 17) END AS s_n")

  test("nulls round-trip bit-exact through blocks write -> DSv2 read (columnar path)") {
    val dir = tmp("rt")
    val df = nullDf
    val m = BlockFiles.write(df.coalesce(2), dir, BtrConfig(blockSize = 256))
    assert(m.numRows == 4096)
    assert(m.columns.map(_.nullable) == Seq(false, true, true, true))
    val back = spark.read.format("btr").load(dir)
    assert(back.schema("i_n").nullable && !back.schema("id").nullable)
    // null counts survive exactly
    def nulls(d: org.apache.spark.sql.DataFrame, c: String): Long =
      d.filter(col(c).isNull).count()
    for (c <- Seq("i_n", "d_n", "s_n"))
      assert(nulls(back, c) == nulls(df, c), s"null count of $c")
    // full value equality both ways (EXCEPT is null-safe)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("nulls round-trip through the BtrTable.write/load path") {
    val dir = tmp("engine")
    val df = nullDf
    BtrTable.write(df.coalesce(2), dir, BtrConfig(blockSize = 256))
    val back = BtrTable.load(spark, dir)
    assert(back.schema("s_n").nullable)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("nulls round-trip through the DSv2 write path") {
    val dir = tmp("dsv2w")
    val df = nullDf
    df.write.format("btr").mode("overwrite").option("blockSize", "256").save(dir)
    val back = spark.read.format("btr").load(dir)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("IsNull / IsNotNull skip chunks by exact null counts") {
    val dir = tmp("skip")
    // single ordered partition, blockSize 256 -> 16 chunks; i2 is null ONLY
    // in rows [0, 256) and ALL-null there
    val df = spark.range(4096).selectExpr(
      "CAST(id AS INT) AS id",
      "CASE WHEN id < 256 THEN NULL ELSE CAST(id AS INT) END AS i2")
    BlockFiles.write(df.coalesce(1), dir, BtrConfig(blockSize = 256))
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val files = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).sorted
    assert(files.length == 1)
    // IS NULL: the 15 null-free chunks are skipped unread
    locally {
      val r = ReadFile(files(0), conf, Array(0), Array(IsNullPred(1)))
      assert(r.chunksSkipped == 15, s"15 of 16 chunks have zero nulls, skipped=${r.chunksSkipped}")
      assert(r.rows.length == 256)
    }
    // IS NOT NULL: exactly the all-null chunk is skipped
    locally {
      val r = ReadFile(files(0), conf, Array(0), Array(NotNullPred(1)))
      assert(r.chunksSkipped == 1, s"the one all-null chunk skips, skipped=${r.chunksSkipped}")
      assert(r.rows.length == 4096 - 256)
    }
    // end-to-end results stay exact through the pushed filters
    val back = spark.read.format("btr").load(dir)
    assert(back.filter(col("i2").isNull).count() == 256)
    assert(back.filter(col("i2").isNotNull).count() == 4096 - 256)
    assert(back.filter(col("i2").isNull).select("id").collect().map(_.getInt(0)).sorted.toSeq
      == (0 until 256))
  }

  test("array vectors: one class per type, nulls from the optional validity bitmap") {
    val bits = Array[Byte](0x05) // rows 0 and 2 NULL
    val iv = new IntArrayVector(Array(7, 8, 9, 10), bits)
    assert(iv.hasNull && iv.numNulls == 2 && iv.isNullAt(0) && !iv.isNullAt(1) && iv.isNullAt(2))
    assert(iv.getInt(1) == 8 && iv.getInts(1, 2).toSeq == Seq(8, 9))
    val dv = new DoubleArrayVector(Array(0.5, 1.5, 2.5), bits)
    assert(dv.hasNull && dv.numNulls == 2 && !dv.isNullAt(1) && dv.getDouble(1) == 1.5)
    val strs = new graft.codec.DecodedStrings("abbccc".getBytes("UTF-8"), Array(0, 1, 3), Array(1, 2, 3), 3)
    val sv = new StringArenaVector(strs, bits)
    assert(sv.hasNull && sv.numNulls == 2 && sv.isNullAt(2))
    assert(sv.getUTF8String(0) == null && sv.getBinary(2) == null)
    assert(sv.getUTF8String(1).toString == "bb" && sv.getBinary(1).toSeq == "bb".getBytes("UTF-8").toSeq)
    // without a bitmap: no nulls, every row a value
    val plain = Seq(new IntArrayVector(Array(1, 2)), new DoubleArrayVector(Array(1.0, 2.0)),
      new StringArenaVector(strs))
    plain.foreach(v => assert(!v.hasNull && v.numNulls == 0 && !v.isNullAt(1)))
    assert(new StringArenaVector(strs).getUTF8String(2).toString == "ccc")

    // gather compacts values and bitmap; 9 rows is not a whole bitmap byte
    val iv10 = new IntArrayVector(Array.tabulate(10)(_ * 10), Array[Byte](0x21, 0x02)) // 0, 5, 9 NULL
    val g = iv10.gather(Array(0, 2, 3, 4, 5, 6, 7, 8, 9), 9)
    assert(g.hasNull && g.numNulls == 3 && (0 until 9).filter(g.isNullAt) == Seq(0, 4, 8))
    assert(g.getInt(1) == 20 && g.getInt(3) == 40 && g.getInt(7) == 80)
    // a selection with no NULL row drops the bitmap
    val g3 = iv10.gather(Array(1, 2, 3), 3)
    assert(!g3.hasNull && g3.numNulls == 0 && g3.getInts(0, 3).toSeq == Seq(10, 20, 30))
    // keys normalize -0.0 and every NaN; raw boxed values keep -0.0
    val odd = java.lang.Double.longBitsToDouble(0x7ff8000000000001L) // a NaN with a payload
    val dk = new DoubleArrayVector(Array(-0.0, Double.NaN, odd, 1.5), Array[Byte](0x08)) // row 3 NULL
    def bitsOf(x: AnyRef): Long = java.lang.Double.doubleToRawLongBits(x.asInstanceOf[java.lang.Double])
    assert(bitsOf(dk.key(0)) == 0L && bitsOf(dk.boxed(0)) == java.lang.Double.doubleToRawLongBits(-0.0))
    assert(bitsOf(dk.key(1)) == bitsOf(dk.key(2)) && dk.key(2).asInstanceOf[java.lang.Double].isNaN)
    assert(dk.key(3) == null && dk.boxed(3) == null && iv.key(0) == null && iv.key(1) == Int.box(8))
    // a string gather shares the arena; a key views it, a boxed value copies it
    val sg = sv.gather(Array(1, 2), 2)
    assert((sg.arena eq strs.data) && sg.getUTF8String(0).toString == "bb" && sg.isNullAt(1))
    val sk = sv.key(1).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val sb = sv.boxed(1).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    assert((sk.getBaseObject eq strs.data) && (sb.getBaseObject ne strs.data) && sk == sb)
    // a validity-only vector answers nulls and refuses values
    val vv = new ValidityVector(org.apache.spark.sql.types.IntegerType, bits)
    assert(vv.isNullAt(0) && !vv.isNullAt(1) && vv.numNulls == 2)
    intercept[UnsupportedOperationException](vv.getInt(1))

    // the DSv2 reader's batches carry the bitmaps: the all-null chunk of s_n
    val dir = tmp("vectors")
    BlockFiles.write(nullDf.coalesce(1), dir, BtrConfig(blockSize = 256))
    val conf = spark.sparkContext.hadoopConfiguration
    val file = s"$dir/blocks/part-00000"
    val r = new BtrColumnarReader(file, conf, ReadFile.colTypes(file), Array(0, 1, 3))
    try {
      var seen = 0
      while (r.next()) {
        val b = r.get()
        val ids = b.column(0)
        val sn = b.column(2)
        assert(!ids.hasNull)
        var nullS = 0
        var i = 0
        while (i < b.numRows()) {
          val id = ids.getInt(i)
          val wantNull = (id >= 512 && id < 768) || id % 3 == 0
          assert(sn.isNullAt(i) == wantNull && (sn.getUTF8String(i) == null) == wantNull, s"s_n at id $id")
          assert(b.column(1).isNullAt(i) == (id % 7 == 0), s"i_n at id $id")
          if (wantNull) nullS += 1
          i += 1
        }
        assert(sn.hasNull && sn.numNulls == nullS)
        seen += b.numRows()
      }
      assert(seen == 4096)
    } finally r.close()
  }

  test("file-level pruning: v2 zone index drops null-free files for IS NULL") {
    val dir = tmp("filelevel")
    // two partitions: partition of ids < 2048 holds every null; the other
    // file is null-free -> planning drops it for IS NULL
    val df = spark.range(4096).selectExpr(
      "CAST(id AS INT) AS id",
      "CASE WHEN id < 100 THEN NULL ELSE CAST(id AS INT) END AS i2")
    BlockFiles.write(df.repartitionByRange(2, col("id")), dir, BtrConfig(blockSize = 256))
    val idx = ZoneIndex.read(spark.sparkContext.hadoopConfiguration, dir)
    assert(idx.isDefined && idx.get.length == 2)
    // the index carries exact per-file null totals and row counts
    assert(idx.get.map(_.cols(1).nullCount).sum == 100)
    assert(idx.get.map(_.cols(1).rows).sum == 4096)
    val scan = spark.read.format("btr").load(dir).filter(col("i2").isNull)
    assert(scan.count() == 100)
    val desc = scan.queryExecution.executedPlan.toString
    assert(desc.contains("files=1/2"), s"IS NULL must drop the null-free file at planning:\n$desc")
  }

  test("aggregate pushdown stays null-correct (all-null chunks, partial nulls)") {
    val dir = tmp("agg")
    val df = nullDf
    BlockFiles.write(df.coalesce(2), dir, BtrConfig(blockSize = 256))
    val back = spark.read.format("btr").load(dir)
    val got = back.agg(
      min("i_n").as("mn_i"), max("i_n").as("mx_i"),
      min("d_n").as("mn_d"), max("d_n").as("mx_d"),
      min("s_n").as("mn_s"), max("s_n").as("mx_s"),
      count(lit(1)).as("n")).head()
    val want = df.agg(
      min("i_n"), max("i_n"), min("d_n"), max("d_n"),
      min("s_n"), max("s_n"), count(lit(1))).head()
    assert(got.toSeq == want.toSeq, s"pushed-agg result $got != spark $want")
    // and the plan actually pushed the aggregates
    val plan = back.agg(min("i_n"), count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("BtrAggScan"), s"aggregates must push to the source:\n$plan")
  }

  test("non-nullable columns keep the fail-fast model") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val schema = StructType(Seq(StructField("a", IntegerType, nullable = false)))
    val cb = new graft.engine.BtrEncoder.ChunkBuilder(
      schema, Array(graft.codec.ColType.Integer.toInt), BtrConfig(blockSize = 4))
    cb.add(new GenericInternalRow(Array[Any](3)))
    val e = intercept[IllegalArgumentException] {
      cb.add(new GenericInternalRow(Array[Any](null)))
    }
    assert(e.getMessage.contains("declared non-nullable"), e.getMessage)
  }

  test("ZoneAccumulator verifies the frame header CRC: corruption folds to no entry") {
    // a valid frame folds; the same frame with one flipped meta byte kills
    // the fold (dead -> None) instead of producing wrong file zones
    val df = spark.range(512).selectExpr("CAST(id AS INT) AS id",
      "CASE WHEN id % 2 = 0 THEN NULL ELSE CAST(id AS DOUBLE) END AS d")
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val parts = new graft.engine.BtrEncoder.PartitionEncodeIterator(rows.iterator, df.schema,
      graft.engine.BtrEncoder.validateSchema(df.schema), BtrConfig(blockSize = 512)).toSeq
    val frame = BlockFiles.frameChunk(parts).bytes
    val ok = new ZoneAccumulator
    ok.fold(frame)
    val folded = ok.result()
    assert(folded.isDefined)
    assert(folded.get(0).kind == 1 && folded.get(0).nullCount == 0 && folded.get(0).rows == 512)
    assert(folded.get(1).nullCount == 256)
    val corrupt = frame.clone()
    corrupt(10) = (corrupt(10) ^ 0x40).toByte // inside the per-column meta
    val bad = new ZoneAccumulator
    bad.fold(corrupt)
    assert(bad.result().isEmpty, "corrupt frame meta must fold to no index entry")
  }

  test("corruption property on a null-bearing frame: flips are named or harmless") {
    import org.apache.hadoop.fs.Path
    val dir = tmp("fuzz")
    BlockFiles.write(nullDf.limit(1500).coalesce(1), dir, BtrConfig(blockSize = 256))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val orig = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath).filter(_.getName.startsWith("part-")).minBy(_.getName)
    val bytes = { val in = fs.open(orig); try in.readAllBytes() finally in.close() }

    def readAllRows(file: String): Seq[(Int, Any, Any, Any)] =
      ReadFile(file, conf, Array(0, 1, 2, 3)).rows.map(row => (row.getInt(0),
        if (row.isNullAt(1)) null else row.getInt(1),
        if (row.isNullAt(2)) null else row.getDouble(2),
        if (row.isNullAt(3)) null else row.getUTF8String(3).toString))
    val clean = readAllRows(orig.toString)
    assert(clean.length == 1500 && clean.exists(_._2 == null) && clean.exists(_._4 == null))

    val rnd = new scala.util.Random(417)
    val fuzzDir = new Path(s"$dir/fuzz")
    fs.mkdirs(fuzzDir)
    var named = 0
    for (trial <- 0 until 32) {
      val posn = rnd.nextInt(bytes.length)
      val mutated = bytes.clone()
      mutated(posn) = (mutated(posn) ^ (1 << rnd.nextInt(8))).toByte
      val f = new Path(fuzzDir, f"part-$trial%05d")
      val os = fs.create(f, true)
      os.write(mutated)
      os.close()
      try {
        // a flip in a validity bitmap MUST be caught (the header CRC
        // covers it) — otherwise a value would silently flip to/from NULL
        assert(readAllRows(f.toString) == clean,
          s"flip at byte $posn silently changed data/nullness (trial $trial)")
      } catch {
        case e: java.io.IOException =>
          assert(String.valueOf(e.getMessage).contains(f"part-$trial%05d"),
            s"error must name the file (trial $trial): ${e.getMessage}")
          named += 1
      }
    }
    assert(named > 20, s"most flips must be detected: named=$named")
  }

  test("manifest nullable flag round-trips through JSON (and legacy parses non-null)") {
    val m = BtrManifest(
      columns = Seq(ColumnMeta("a", 0, nullable = true), ColumnMeta("b", 2)),
      numPartitions = 1, blockSize = 128, maxCascadeDepth = 3,
      numRows = 10, rawBytes = 100, encBytes = 50, completedPartitions = Seq(0))
    val back = BtrManifest.fromJson(BtrManifest.toJson(m))
    assert(back.columns == m.columns)
    val legacy = """{"columns":[{"name":"a","colType":0}],"numPartitions":1,"blockSize":128,
      "maxCascadeDepth":3,"numRows":1,"rawBytes":1,"encBytes":1,"completedPartitions":[0]}"""
    assert(BtrManifest.fromJson(legacy).columns == Seq(ColumnMeta("a", 0, nullable = false)))
  }
}
