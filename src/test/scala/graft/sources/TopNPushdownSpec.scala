package graft.sources

import graft.codec.BtrConfig
import graft.engine.BlockFiles
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Pushed TopN (`SupportsPushDownTopN`, partial): each ordering here runs
  * through the btr scan and through Spark's own sort on the original
  * DataFrame; with a unique tiebreak key both must pick the SAME row set.
  * The data is salted with NULLs, NaN, ±0.0 and duplicate keys so the
  * reader's comparator has to reproduce Spark's sort semantics exactly
  * (NaN greatest, -0.0 = 0.0, explicit null ordering).
  */
class TopNPushdownSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("topn-pushdown-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"topn_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  private lazy val (df: DataFrame, btr: DataFrame) = {
    val rows = (0 until 3000).map { k =>
      val i: java.lang.Integer = if (k % 11 == 0) null else Int.box(k % 40 - 20)
      val d: java.lang.Double = k % 13 match {
        case 0 => null
        case 1 => Double.box(Double.NaN)
        case 2 => Double.box(0.0)
        case 3 => Double.box(-0.0)
        case _ => Double.box((k % 29) * 0.5 - 7.0)
      }
      val s: String = if (k % 7 == 0) null else s"s${k % 31}"
      Row(k, i, d, s)
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("s", StringType, nullable = true)))
    val base = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val dir = tmp("battery")
    BlockFiles.write(base.repartition(2), dir, BtrConfig(blockSize = 256))
    (base, spark.read.format("btr").load(dir))
  }

  private def check(name: String, n: Int)(orders: org.apache.spark.sql.Column*): Unit = {
    val got = btr.orderBy(orders: _*).limit(n)
    val want = df.orderBy(orders: _*).limit(n)
    // with the unique id tiebreak both engines must select the same set
    assert(got.count() == want.count(), s"[$name] counts diverge")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"[$name] rows diverge")
  }

  test("topN battery agrees with Spark sort semantics") {
    check("int-asc", 17)(col("i").asc, col("id").asc)
    check("int-desc", 17)(col("i").desc, col("id").asc)
    check("int-asc-nulls-last", 17)(col("i").asc_nulls_last, col("id").asc)
    check("int-desc-nulls-first", 17)(col("i").desc_nulls_first, col("id").asc)
    check("double-asc", 23)(col("d").asc, col("id").asc)
    check("double-desc", 23)(col("d").desc, col("id").asc) // NaN greatest first
    check("double-desc-nulls-first", 23)(col("d").desc_nulls_first, col("id").asc)
    check("string-asc", 11)(col("s").asc, col("id").desc)
    check("string-desc-nulls-first", 11)(col("s").desc_nulls_first, col("id").asc)
    check("multi-key", 19)(col("s").asc_nulls_last, col("d").desc, col("id").asc)
    check("id-only", 5)(col("id").desc)
    check("n-beyond-rows", 5000)(col("id").asc)
  }

  test("randomized orderings: 40 seeded TopN shapes agree with Spark") {
    // random key subsets x directions x null orderings x n x optional
    // filter; the trailing unique id key makes the selected SET exact
    val rnd = new scala.util.Random(0x705e5eed)
    val keyCols = Array("i", "d", "s")
    for (trial <- 0 until 40) {
      val nKeys = 1 + rnd.nextInt(3)
      val keys = rnd.shuffle(keyCols.toList).take(nKeys).map { c =>
        (rnd.nextInt(4): @unchecked) match {
          case 0 => col(c).asc
          case 1 => col(c).desc
          case 2 => col(c).asc_nulls_last
          case 3 => col(c).desc_nulls_first
        }
      } :+ (if (rnd.nextBoolean()) col("id").asc else col("id").desc)
      val n = 1 + rnd.nextInt(60)
      val filt: DataFrame => DataFrame =
        if (rnd.nextBoolean()) identity
        else {
          val lo = rnd.nextInt(2500)
          df => df.where(col("id").between(lo, lo + 700))
        }
      val got = filt(btr).orderBy(keys: _*).limit(n)
      val want = filt(df).orderBy(keys: _*).limit(n)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"trial $trial diverged (keys=$keys n=$n)")
      assert(got.queryExecution.executedPlan.toString.contains("orderedLimit="),
        s"trial $trial did not push (keys=$keys n=$n)")
    }
  }

  test("plan shows the pushed ordered limit") {
    val plan = btr.orderBy(col("id").desc).limit(7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("orderedLimit=id DESC n=7"), s"no pushed TopN in:\n$plan")
  }

  test("computed sort key is refused, query stays correct") {
    val got = btr.orderBy((col("id") % 17).asc, col("id").asc).limit(9)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("orderedLimit"), "computed key must not push")
    val want = df.orderBy((col("id") % 17).asc, col("id").asc).limit(9)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("pushed filter composes with pushed topN") {
    val got = btr.where(col("id") >= 1000).orderBy(col("id").asc).limit(12)
    val want = df.where(col("id") >= 1000).orderBy(col("id").asc).limit(12)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("orderedLimit=id ASC n=12"), s"filter+topN did not push:\n$plan")
  }

  test("moving zone threshold skips dominated chunks") {
    // one file, ascending layout (the writer's local sort), many chunks:
    // an ASC top-5 fills its heap from the first chunk and every later
    // chunk's zone min is strictly worse -> skipped whole
    val dir = tmp("skip")
    val base = spark.range(0, 65536).selectExpr("CAST(id AS INT) AS k")
    BlockFiles.write(base.repartition(1), dir, BtrConfig(blockSize = 1024),
      rangeCols = Seq("k"))
    val files = BtrScan.listBlockFiles(dir.stripPrefix("file:"))
    val conf = spark.sparkContext.hadoopConfiguration
    // run every partition's reader (the range exchange may split files):
    // each keeps a LOCAL top-5, filling its heap from its first chunk and
    // skipping every later chunk of its ascending file
    val got = scala.collection.mutable.ArrayBuffer[Int]()
    var skipped = 0L
    var total = 0L
    files.foreach { ip =>
      val file = ip.asInstanceOf[BtrInputPartition].file
      val reader = new BtrTopNReader(file, conf, ReadFile.colTypes(file),
        requiredIdx = Array(0), zones = Array.empty, exact = Array.empty,
        TopNSpec(Seq(SortKeySpec(0, kind = 1, desc = false, nullsFirst = true)), 5))
      while (reader.next()) got += reader.get().getInt(0)
      skipped += reader.currentMetricsValues().find(_.name() == "chunksSkipped").get.value()
      reader.close()
    }
    assert(got.sorted.take(5) == Seq(0, 1, 2, 3, 4), s"wrong top rows: ${got.sorted.take(5)}")
    // 64k rows in 1024-row chunks = 64 chunks; each file decodes ~1 chunk
    // to fill its heap and skips the rest
    assert(skipped >= 64 - 2 * files.length,
      s"only $skipped chunks skipped across ${files.length} files")
  }

  test("end-to-end topN result on a range-clustered table prunes and matches") {
    val dir = tmp("e2e")
    val base = spark.range(0, 20000)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id % 97 AS INT) AS v")
    BlockFiles.write(base.repartition(4), dir, BtrConfig(blockSize = 512),
      rangeCols = Seq("k"))
    val t = spark.read.format("btr").load(dir)
    val got = t.orderBy(col("k").asc).limit(25)
    val want = base.orderBy(col("k").asc).limit(25)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }
}
