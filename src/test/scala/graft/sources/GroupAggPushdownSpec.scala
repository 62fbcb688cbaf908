package graft.sources

import graft.codec.BtrConfig
import graft.engine.BlockFiles
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** GROUP BY aggregate pushdown (partial): every query here runs through
  * the btr scan (BtrAggReader emits per-group partials, Spark's final
  * HashAggregate merges) and through Spark's own aggregation on the
  * original DataFrame; results must match exactly. The data carries NULL
  * group keys, NULL agg inputs, NaN/-0.0 doubles and a group-clustered
  * layout so the header-only fold path is actually exercised.
  */
class GroupAggPushdownSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("group-agg-pushdown-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"gagg_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  private def same(name: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"[$name] grouped aggregate diverges from Spark:\n got=${got.collect().toSeq}\nwant=${want.collect().toSeq}")
  }

  private lazy val (df: DataFrame, btr: DataFrame) = {
    val rows = (0 until 4000).map { k =>
      val g: java.lang.Integer = if (k % 17 == 0) null else Int.box(k / 500) // 8 groups + null
      val s: String = if (k % 13 == 0) null else s"g${k % 5}"
      val d: java.lang.Double = k % 11 match {
        case 0 => null
        case 1 => Double.box(Double.NaN)
        case 2 => Double.box(if (k % 2 == 0) 0.0 else -0.0)
        case _ => Double.box((k % 37) * 0.25)
      }
      val v: java.lang.Integer = if (k % 7 == 0) null else Int.box(k % 100 - 50)
      Row(k, g, s, d, v)
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("g", IntegerType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("v", IntegerType, nullable = true)))
    val base = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val dir = tmp("battery")
    // id-clustered (so g = id/500 is chunk-constant in long runs)
    BlockFiles.write(base.repartition(2), dir, BtrConfig(blockSize = 256),
      rangeCols = Seq("id"))
    (base, spark.read.format("btr").load(dir))
  }

  private def aggCols = Seq(
    count(lit(1)).as("n"),
    count(col("v")).as("n_v"),
    min(col("v")).as("min_v"),
    max(col("v")).as("max_v"),
    sum(col("v")).as("sum_v"),
    min(col("d")).as("min_d"),
    max(col("d")).as("max_d"),
    min(col("s")).as("min_s"),
    max(col("s")).as("max_s"))

  test("int group key with null groups") {
    same("int-key",
      btr.groupBy("g").agg(aggCols.head, aggCols.tail: _*),
      df.groupBy("g").agg(aggCols.head, aggCols.tail: _*))
  }

  test("string group key") {
    same("string-key",
      btr.groupBy("s").agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v")),
      df.groupBy("s").agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v")))
  }

  test("double group key normalizes NaN and -0.0 like Spark") {
    same("double-key",
      btr.groupBy("d").agg(count(lit(1)).as("n")),
      df.groupBy("d").agg(count(lit(1)).as("n")))
  }

  test("multi-column group key") {
    same("multi-key",
      btr.groupBy("g", "s").agg(count(lit(1)).as("n"), max(col("v")).as("max_v")),
      df.groupBy("g", "s").agg(count(lit(1)).as("n"), max(col("v")).as("max_v")))
  }

  test("filtered grouped aggregate (claimed filter composes)") {
    same("filtered",
      btr.where(col("id").between(700, 2900)).groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v")),
      df.where(col("id").between(700, 2900)).groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v")))
  }

  test("plan shows the pushed group columns") {
    val plan = btr.groupBy("g").agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("group=[g]"), s"no pushed GROUP BY in:\n$plan")
    assert(plan.contains("count(*)"), s"no pushed count in:\n$plan")
  }

  test("group-clustered table folds header-only chunks") {
    // group column == range-cluster column: every chunk except group
    // boundaries is group-constant and all aggregates fold from headers
    val dir = tmp("clustered")
    // day is CONTIGUOUS in ingest order (the realistic day-partitioned
    // shape) — id % 8 would interleave days row-by-row and no chunk could
    // be group-constant
    val base = spark.range(0, 40000, 1, 2)
      .selectExpr("CAST(id / 5000 AS INT) AS day", "CAST(id AS INT) AS n_bytes")
    BlockFiles.write(base, dir, BtrConfig(blockSize = 1024),
      rangeCols = Seq("day"))
    val t = spark.read.format("btr").load(dir)
    same("clustered",
      t.groupBy("day").agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("bytes"),
        min(col("n_bytes")).as("mn"), max(col("n_bytes")).as("mx")),
      base.groupBy("day").agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("bytes"),
        min(col("n_bytes")).as("mn"), max(col("n_bytes")).as("mx")))
    // header-only proof at the reader level: run one file's reader directly
    // and check it decoded (at most) only group-boundary chunks
    val files = BtrScan.listBlockFiles(Seq(dir.stripPrefix("file:")))
    val conf = spark.sparkContext.hadoopConfiguration
    var rows = 0L
    files.foreach { ip =>
      val file = ip.asInstanceOf[BtrInputPartition].file
      val r = new BtrAggReader(file, conf, ReadFile.colTypes(file),
        specs = Seq(CountSpec, SumSpec(1, isDouble = false)),
        groupIdx = Array(0))
      while (r.next()) rows += 1
      val m = r.currentMetricsValues().map(v => v.name() -> v.value()).toMap
      val total = m("chunksTotal")
      val decoded = m("aggChunksDecoded")
      assert(decoded <= 8, s"expected boundary-only decode, got $decoded of $total chunks")
      assert(m("aggChunksHeaderOnly") >= total - 8 - m("chunksSkipped"))
      r.close()
    }
    assert(rows >= 8, s"too few partial rows: $rows")
  }

  test("high-cardinality grouping stays bounded (flush path)") {
    // unique group per row: the combine map must flush, not grow unbounded;
    // result still exact after Spark's final merge
    val dir = tmp("hicard")
    val base = spark.range(0, 3000)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id % 7 AS INT) AS v")
    BlockFiles.write(base.repartition(1), dir, BtrConfig(blockSize = 128))
    val t = spark.read.format("btr").load(dir)
    same("hicard",
      t.groupBy("k").agg(sum(col("v")).as("sv")),
      base.groupBy("k").agg(sum(col("v")).as("sv")))
  }

  test("randomized shapes: 25 seeded group/agg combinations agree with Spark") {
    val rnd = new scala.util.Random(0x96a66eed)
    val groupCols = Array("g", "s", "d")
    val aggPool: IndexedSeq[org.apache.spark.sql.Column] = IndexedSeq(
      count(lit(1)).as("n"), count(col("v")).as("nv"),
      min(col("v")).as("mnv"), max(col("v")).as("mxv"), sum(col("v")).as("sv"),
      min(col("d")).as("mnd"), max(col("d")).as("mxd"),
      min(col("s")).as("mns"), max(col("s")).as("mxs"))
    for (trial <- 0 until 25) {
      val gs = rnd.shuffle(groupCols.toList).take(1 + rnd.nextInt(3))
      val aggs = rnd.shuffle(aggPool.indices.toList).take(1 + rnd.nextInt(4)).sorted
        .map(aggPool(_))
      val filt: DataFrame => DataFrame =
        if (rnd.nextBoolean()) identity
        else {
          val lo = rnd.nextInt(3000)
          df => df.where(col("id").between(lo, lo + 900))
        }
      val got = filt(btr).groupBy(gs.map(col): _*).agg(aggs.head, aggs.tail: _*)
      val want = filt(df).groupBy(gs.map(col): _*).agg(aggs.head, aggs.tail: _*)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"trial $trial diverged (group=$gs aggs=${aggs.length})")
      assert(got.queryExecution.executedPlan.toString
        .contains(s"group=[${gs.mkString(",")}]"),
        s"trial $trial did not push (group=$gs)")
    }
  }

  test("SELECT DISTINCT pushes as an empty-aggregate grouped scan") {
    val got = btr.select("s").distinct()
    same("distinct", got, df.select("s").distinct())
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("group=[s]"), s"distinct did not push:\n$plan")
    val got2 = btr.select("g", "s").distinct()
    same("distinct-multi", got2, df.select("g", "s").distinct())
  }

  test("filtered aggregate reports the file-pruning ratio as driver metrics") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tmp("aggmetrics")
    val base = spark.range(0, 20000, 1, 2)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id % 9 AS INT) AS v")
    BlockFiles.write(base, dir, BtrConfig(blockSize = 512), rangeCols = Seq("k"))
    // AQE hides the scan inside leaf QueryStageExecs; plain plan for the
    // metric lookup (the metrics themselves are AQE-independent)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (row, scan) =
      try {
        val q = spark.read.format("btr").load(dir)
          .where(col("k").between(100, 299))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        (q.collect().head,
          q.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b })
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(row.getLong(0) == 200)
    assert(scan.isDefined, "BatchScanExec expected under the pushed aggregate")
    val m = scan.get.metrics
    assert(m.contains("filesSkipped") && m.contains("filesTotal"),
      s"file metrics registered: ${m.keys}")
    assert(m("filesTotal").value > 0, "planning must report the file total")
    assert(m("filesSkipped").value > 0,
      s"selective filter must drop files at planning: ${m("filesSkipped").value}/${m("filesTotal").value}")
  }

  test("avg is not pushed but stays correct") {
    val got = btr.groupBy("g").agg(avg(col("v")).as("a"), count(lit(1)).as("n"))
    val want = df.groupBy("g").agg(avg(col("v")).as("a"), count(lit(1)).as("n"))
    same("avg", got, want)
  }
}
