package graft.engine

import graft.codec._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Golden tiny-table tests mirroring the reference's fixed 3-row corpus
  * (ids [1,2,3], names [Julia,Peter,Jack], scores [0.123,213.1232,4.20] —
  * /root/reference/src/lib.rs:37-47) and its test patterns: exact-value
  * round-trip (:107-151), per-column typed equality (:390-421), part-wise ≡
  * whole-column decode (:311-388), CSV materialization, SQL filter
  * (`select * from btr where column_0 = 3`, :257-309).
  */
class GoldenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("golden-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val mockIds = Array(1, 2, 3)
  val mockNames = Array("Julia", "Peter", "Jack")
  val mockScores = Array(0.123, 213.1232, 4.20)

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"golden_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  test("golden: engine round-trip reproduces exact values") {
    import spark.implicits._
    val dir = tmp("rt")
    val df = mockIds.indices.map(i => (mockIds(i), mockNames(i), mockScores(i)))
      .toDF("id", "name", "score")
    BtrTable.write(df, dir)
    val back = BtrTable.load(spark, dir).orderBy("id").collect()
    assert(back.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(back.map(_.getString(1)).toSeq == Seq("Julia", "Peter", "Jack"))
    assert(back.map(_.getDouble(2)).toSeq == Seq(0.123, 213.1232, 4.20))
  }

  test("golden: SQL filter `where id = 3` returns (3, Jack, 4.20)") {
    import spark.implicits._
    val dir = tmp("sql")
    val df = mockIds.indices.map(i => (mockIds(i), mockNames(i), mockScores(i)))
      .toDF("id", "name", "score")
    BtrTable.write(df, dir)
    BtrTable.load(spark, dir).createOrReplaceTempView("btr")
    val r = spark.sql("SELECT * FROM btr WHERE id = 3").collect()
    assert(r.length == 1)
    assert(r(0).getInt(0) == 3 && r(0).getString(1) == "Jack" && r(0).getDouble(2) == 4.20)
  }

  test("golden: csv -> btr -> csv round-trip with reference null defaults") {
    import spark.implicits._
    val csvIn = tmp("csvin")
    val dir = tmp("csvbtr")
    val csvOut = tmp("csvout")
    Seq("id,name,score", "1,Julia,0.123", "2,,", "3,Jack,4.2")
      .toDF("line").coalesce(1).write.mode("overwrite").text(csvIn)
    val m = BtrCsv.fromCsv(spark, csvIn, dir,
      Seq("id" -> ColType.Integer.toInt, "name" -> ColType.String.toInt,
        "score" -> ColType.Double.toInt))
    assert(m.numRows == 3)
    val back = BtrTable.load(spark, dir).orderBy("id").collect()
    // reference defaults: missing string -> "NULL", missing double -> 0.0
    assert(back(1).getString(1) == "NULL")
    assert(back(1).getDouble(2) == 0.0)
    BtrCsv.toCsv(spark, dir, csvOut)
    val rows = spark.read.option("header", "true").csv(csvOut).orderBy("id").collect()
    assert(rows.length == 3 && rows(2).getString(1) == "Jack")
  }

  /** Every frame of a table's block files, each column decoded on its own
    * through FrameReader: (file, chunk, column name, numRows, decoded).
    */
  private def decodedFrames(dir: String): Seq[(String, Int, String, Int, AnyRef)] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val names = BtrTable.readManifest(spark, dir).columns.map(_.name)
    val blocks = new Path(s"$dir/blocks")
    blocks.getFileSystem(conf).listStatus(blocks).map(_.getPath)
      .filter(_.getName.startsWith("part-")).toSeq.flatMap { p =>
        val r = new graft.sources.FrameReader(p.toString, conf)
        val out = Seq.newBuilder[(String, Int, String, Int, AnyRef)]
        var chunk = 0
        try while (r.nextHeader()) {
          for (c <- 0 until r.nCols) {
            val blob = r.readBlob(c)
            val values: AnyRef = r.colType(c) match {
              case ColType.Integer => IntCodec.decode(blob)
              case ColType.Double  => DoubleCodec.decode(blob)
              case ColType.String  => StringCodec.decode(blob)
            }
            out += ((p.getName, chunk, names(c), r.numRows, values))
          }
          chunk += 1
        } finally r.close()
        out.result()
      }
  }

  test("part-wise decode ≡ whole-column decode (multi-chunk)") {
    import spark.implicits._
    val dir = tmp("parts")
    // blockSize 64 over 1000 rows on exactly 2 partitions => 8 chunks each
    // (explicit repartition: suites share the session, so default
    // parallelism depends on suite order)
    val cfg = BtrConfig(blockSize = 64)
    val df = (0 until 1000).map(i => (i, s"name_${i % 7}", i / 3.0))
      .toDF("id", "name", "score").repartition(2)
    BtrTable.write(df, dir, cfg)
    val parts = decodedFrames(dir)
    assert(parts.map(_._2).max >= 7, "fixture must span multiple chunks per block file")
    // per column: concat of per-chunk decodes == whole decoded column
    // (multiset by file order)
    val byCol = parts.groupBy(_._3)
    val whole = BtrTable.load(spark, dir).collect()
    byCol.foreach { case (colName, colParts) =>
      val concatLen = colParts.map(_._4).sum
      assert(concatLen == 1000, s"$colName chunks must cover all rows")
      colParts.foreach { case (file, chunk, _, numRows, decoded) =>
        val n = decoded match {
          case a: Array[Int]         => a.length
          case a: Array[Double]      => a.length
          case a: Array[Array[Byte]] => a.length
        }
        assert(n == numRows, s"$colName $file chunk $chunk: decoded $n != $numRows")
      }
    }
    // value-level check for the int column: sorted concat == sorted whole
    val intConcat = byCol("id").flatMap(_._5.asInstanceOf[Array[Int]]).sorted
    assert(intConcat == whole.map(_.getInt(0)).sorted.toSeq)
  }

  test("zone-map pruned load decodes fewer chunks, same filtered result") {
    import spark.implicits._
    val dir = tmp("prunezm")
    val cfg = BtrConfig(blockSize = 100)
    // range-partitioned by id => chunks have tight id zone maps
    val df = (0 until 2000).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    BtrTable.write(df, dir, cfg)
    val totalChunks = decodedFrames(dir).map(f => (f._1, f._2)).distinct.length
    val pruned = BtrTable.loadPruned(spark, dir, "id", 100, 199)
    assert(pruned.queryExecution.executedPlan.toString.contains("zoneFilters=id:"),
      "the range must reach the scan as a zone filter")
    val got = pruned.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(got.length == 100 && got.head == ((100, "v100")) && got.last == ((199, "v199")))
    // chunks outside the range are skipped by their zone maps, unread
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.get
    val skipped = scan.metrics("chunksSkipped").value
    assert(skipped > 0 && skipped < totalChunks, s"pruning must skip chunks ($skipped of $totalChunks)")
    assert(totalChunks >= 20, s"fixture sanity: $totalChunks chunks")
  }

  test("block file bytes of a seeded source-code table are pinned") {
    val dir = tmp("pinned")
    val df = graft.data.SourceCodeGen.table(spark, 4000, seed = 11L).toDF()
      .withColumn("row_id", col("row_id").cast("int")).coalesce(1)
    BlockFiles.write(df, dir)
    val files = new java.io.File(dir.stripPrefix("file:"), "blocks").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(files.length == 1, files.map(_.getName).mkString(","))
    val crc = new java.util.zip.CRC32C
    crc.update(java.nio.file.Files.readAllBytes(files(0).toPath))
    assert(crc.getValue == 0x4dcf0fa2L, f"block file CRC32C 0x${crc.getValue}%08xL")
    // the file-level zone index folded from those frames
    val zcrc = new java.util.zip.CRC32C
    zcrc.update(java.nio.file.Files.readAllBytes(
      new java.io.File(dir.stripPrefix("file:"), graft.format.ZoneIndex.FileName).toPath))
    assert(zcrc.getValue == 0x48674bc7L, f"zone index CRC32C 0x${zcrc.getValue}%08xL")
  }

  test("Datablock seeded-random 640k values (reference random_int_double test shape)") {
    def genData(size: Int, unique: Int, runLength: Int, seed: Long): Array[Int] = {
      val rnd = new scala.util.Random(seed)
      val out = new Array[Int](size)
      var i = 0
      while (i < size) {
        val v = rnd.nextInt(unique)
        var r = 0
        while (r < runLength && i < size) { out(i) = v; i += 1; r += 1 }
      }
      out
    }
    val ints = genData(640000, 4095, 40, 69L)
    val dbls = genData(640000, 4095, 40, 42L).map(_ * 0.5)
    for (from <- 0 until 640000 by 65536) {
      val iv = java.util.Arrays.copyOfRange(ints, from, math.min(640000, from + 65536))
      val dv = java.util.Arrays.copyOfRange(dbls, from, math.min(640000, from + 65536))
      val ib = IntCodec.encode(iv)
      val db = DoubleCodec.encode(dv)
      assert(java.util.Arrays.equals(IntCodec.decode(ib), iv), "int round-trip must be bit-identical")
      assert(java.util.Arrays.equals(DoubleCodec.decode(db).map(java.lang.Double.doubleToRawLongBits),
        dv.map(java.lang.Double.doubleToRawLongBits)), "double round-trip must be bit-identical")
      val ratio = 12.0 * iv.length / (ib.length + db.length)
      assert(ratio > 4.0, s"runlength-40 data must compress >4x, got $ratio")
    }
  }
}
