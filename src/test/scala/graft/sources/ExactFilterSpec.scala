package graft.sources

import graft.codec.BtrConfig
import graft.engine.BlockFiles
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Exact-claimed filter pushdown (round-5): the source claims simple
  * predicates, so Spark plans NO post-scan Filter and the readers must
  * reproduce Spark's row semantics bit-for-bit. Every condition here runs
  * twice — through the claiming btr scan and through Spark's own
  * evaluation on the original DataFrame — and must agree exactly on data
  * salted with NULLs, NaN, ±Infinity, zeros, empty strings and duplicates.
  */
class ExactFilterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("exact-filter-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"exact_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  private lazy val (df: DataFrame, btr: DataFrame) = {
    val rows = (0 until 2000).map { k =>
      val i: java.lang.Integer = if (k % 11 == 0) null else Int.box(k % 50 - 25)
      val d: java.lang.Double = k % 13 match {
        case 0 => null
        case 1 => Double.box(Double.NaN)
        case 2 => Double.box(0.0)
        case 3 => Double.box(-0.0)
        case 4 => Double.box(Double.PositiveInfinity)
        case 5 => Double.box(Double.NegativeInfinity)
        case _ => Double.box((k % 37) * 0.25 - 2.0)
      }
      val s: String = if (k % 7 == 0) null else if (k % 5 == 0) ""
        else if (k % 9 == 0) s"é${k % 23}" else s"v${k % 23}"
      Row(k, i, d, s)
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("s", StringType, nullable = true)))
    // NOT cached: Spark's InMemoryRelation batch pruning is NaN-unsound
    // (a cached `d > Infinity` prunes the batch whose stats-upper-bound is
    // Infinity and silently drops NaN rows — verified on 4.1.2); the
    // uncached path evaluates the true semantics this spec compares against
    val base = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val dir = tmp("battery")
    BlockFiles.write(base.repartition(2), dir, BtrConfig(blockSize = 256))
    (base, spark.read.format("btr").load(dir))
  }

  private def check(name: String)(cond: org.apache.spark.sql.Column): Unit = {
    val got = btr.where(cond)
    val want = df.where(cond)
    val (g, w) = (got.count(), want.count())
    assert(g == w, s"[$name] count: btr=$g spark=$w (cond=$cond)")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      s"[$name] rows diverge for $cond")
  }

  test("comparison battery agrees with Spark row semantics") {
    check("int-gt")(col("i") > 5)
    check("int-gte")(col("i") >= -3)
    check("int-lt")(col("i") < 0)
    check("int-lte")(col("i") <= 7)
    check("int-eq")(col("i") === 7)
    check("int-gt-frac")(col("i") > 5.5)
    check("int-lt-negfrac")(col("i") < -3.5)
    check("int-eq-frac")(col("i") === 6.5)
    check("int-in")(col("i").isin(1, 5, 7, 1000))
    check("int-in-frac")(col("i").isin(1.0, 2.5, 7))
    check("dbl-gt")(col("d") > 2.0)
    check("dbl-gte-zero")(col("d") >= 0.0)
    check("dbl-lt-zero")(col("d") < 0.0)
    check("dbl-lte")(col("d") <= -1.25)
    check("dbl-eq-zero")(col("d") === 0.0)
    check("dbl-eq-inf")(col("d") === Double.PositiveInfinity)
    check("dbl-gt-neginf")(col("d") > Double.NegativeInfinity)
    check("dbl-lt-neginf")(col("d") < Double.NegativeInfinity)
    check("dbl-gt-posinf")(col("d") > Double.PositiveInfinity)
    check("dbl-gte-posinf")(col("d") >= Double.PositiveInfinity)
    check("dbl-in")(col("d").isin(0.0, 2.25, Double.PositiveInfinity))
    check("str-gt")(col("s") > "v1")
    check("str-gte")(col("s") >= "v2")
    check("str-lt")(col("s") < "v12")
    check("str-lte")(col("s") <= "")
    check("str-eq")(col("s") === "v7")
    check("str-eq-empty")(col("s") === "")
    check("str-in")(col("s").isin("v1", "v22", "", "zzz"))
    check("starts")(col("s").startsWith("v1"))
    check("starts-empty")(col("s").startsWith(""))
    check("starts-mb")(col("s").startsWith("é1"))
    check("ends")(col("s").endsWith("2"))
    check("contains")(col("s").contains("1"))
    check("contains-empty")(col("s").contains(""))
    check("like-combo")(col("s").startsWith("v") && col("s").endsWith("0"))
    check("is-null-i")(col("i").isNull)
    check("is-null-s")(col("s").isNull)
    check("not-null-d")(col("d").isNotNull)
    check("null-safe-eq")(col("i") <=> 7)
    check("conj")(col("i") > 3 && col("s") < "v2")
    check("conj-typed")(col("d") >= 0.0 && col("i") <= 10 && col("s").isNotNull)
    // one claimable + one NOT claimable (expression): the latter stays a
    // Spark post-scan filter; combination must still be exact
    check("mixed-claim")(col("i") % 2 === 0 && col("i") > 5)
    check("id-range")(col("id").between(256, 1023))
  }

  test("compound battery: OR / NOT / nested AND-OR agree with Spark row semantics") {
    // same-column ORs — claimable, zone-prunable
    check("or-int")(col("i") < -20 || col("i") > 20)
    check("or-int-null")(col("i") < 0 || col("i").isNull)
    check("or-int-in")(col("i").isin(1, 5) || col("i") > 22)
    check("or-dbl")(col("d") < -1.0 || col("d") > 3.0)
    check("or-dbl-nan")(col("d") === Double.NaN || col("d") < 0.0)
    check("or-dbl-inf")(col("d") === Double.PositiveInfinity || col("d") < 0.0)
    check("or-str")(col("s") < "v1" || col("s") > "v5")
    check("or-str-null")(col("s") === "" || col("s").isNull)
    check("or-str-prefix")(col("s").startsWith("é") || col("s") === "v7")
    // nested AND inside OR, same column
    check("or-of-ands")((col("id") >= 100 && col("id") <= 200) ||
      (col("id") >= 1800 && col("id") <= 1900))
    check("or-and-mixed")((col("i") > 0 && col("i") < 10) || col("i") === -20)
    // cross-column OR — claimed via matchesRow (each leaf consults its
    // own column's null state), must be exact on null-salted data
    check("or-cross-col")(col("i") > 5 || col("s") === "v1")
    check("or-cross-col-null")(col("i").isNull || col("d").isNull)
    check("or-cross-col-3")(col("i") < -20 || col("d") > 3.0 || col("s").startsWith("é"))
    check("or-cross-and")((col("i") > 0 && col("d") >= 0.0) || col("s") === "")
    // NOT shapes with exact rewrites
    check("not-gt")(!(col("i") > 5))
    check("not-lte")(!(col("i") <= -3))
    check("not-eq-int")(!(col("i") === 7))
    check("not-eq-frac")(!(col("i") === 6.5))
    check("not-eq-dbl")(!(col("d") === 0.0))
    check("not-eq-dbl-inf")(!(col("d") === Double.NegativeInfinity))
    check("not-eq-str")(!(col("s") === "v7"))
    check("not-isnull")(!col("i").isNull)
    check("not-not")(!(!(col("i") > 5)))
    // NOT shapes deliberately left to Spark (no exact rewrite) — correctness only
    check("not-between")(!col("id").between(10, 20))
    check("not-in")(!col("i").isin(1, 5, 7))
    check("not-starts")(!col("s").startsWith("v1"))
    check("not-nullsafe")(!(col("i") <=> 7))
  }

  test("randomized compound property: 60 random predicate trees agree with Spark") {
    // deterministic-seed random AND/OR/NOT trees (depth <= 3) over the
    // null/NaN/multibyte-salted battery fixture: the claimed subset must
    // reproduce Spark's three-valued semantics exactly, the unclaimable
    // remainder (deep NOTs, expression shapes) must stay Spark-filtered
    // and still agree
    val rnd = new scala.util.Random(20260817)
    def leaf(): org.apache.spark.sql.Column = rnd.nextInt(12) match {
      case 0 => col("i") > (rnd.nextInt(60) - 30)
      case 1 => col("i") <= (rnd.nextInt(60) - 30)
      case 2 => col("i") === (rnd.nextInt(60) - 30)
      case 3 => col("d") > (rnd.nextInt(20) * 0.25 - 2.5)
      case 4 => col("d") < (rnd.nextInt(20) * 0.25 - 2.5)
      case 5 => col("s") > s"v${rnd.nextInt(23)}"
      case 6 => col("s") === (if (rnd.nextBoolean()) s"v${rnd.nextInt(23)}" else s"é${rnd.nextInt(23)}")
      case 7 => col("s").startsWith(if (rnd.nextBoolean()) "v1" else "é")
      case 8 => col("i").isNull
      case 9 => col("s").isNotNull
      case 10 => col("i").isin(rnd.nextInt(50) - 25, rnd.nextInt(50) - 25, rnd.nextInt(50) - 25)
      case 11 => col("id").between(rnd.nextInt(2000), rnd.nextInt(2000))
    }
    def tree(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(5) match {
        case 0 | 1 => tree(depth - 1) || tree(depth - 1)
        case 2 | 3 => tree(depth - 1) && tree(depth - 1)
        case _     => !tree(depth - 1)
      }
    (1 to 60).foreach { k =>
      val cond = tree(3)
      val g = btr.where(cond).count()
      val w = df.where(cond).count()
      assert(g == w, s"[tree $k] count: btr=$g spark=$w cond=$cond")
      if (k % 10 == 0) { // full row compare on a sample of trees
        val (gd, wd) = (btr.where(cond), df.where(cond))
        assert(gd.exceptAll(wd).count() == 0 && wd.exceptAll(gd).count() == 0,
          s"[tree $k] rows diverge for $cond")
      }
    }
  }

  test("same-column OR claims (no post-scan Filter) and skips chunks; disjoint ranges prune") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val dir = tmp("orprune")
    val src = spark.range(4096).selectExpr("CAST(id AS INT) AS id", "concat('x', id) AS s")
    BlockFiles.write(src.coalesce(1), dir, BtrConfig(blockSize = 256))
    val t = spark.read.format("btr").load(dir)
    val q = t.where(col("id") < 256 || col("id") >= 3840)
    assert(q.queryExecution.optimizedPlan.collect { case f: LFilter => f }.isEmpty,
      s"a same-column OR must be claimed:\n${q.queryExecution.optimizedPlan}")
    assert(q.count() == 512)
    // reader-level: 16 chunks of 256, the OR keeps only the first and last
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val file = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).head
    val r = new BtrPartitionReader(file, conf, Array(0),
      Array(OrPred(IntCmpPred(0, 0, 255), IntCmpPred(0, 3840, Long.MaxValue))))
    while (r.next()) ()
    val m = r.currentMetricsValues().map(x => x.name() -> x.value()).toMap
    assert(m("chunksTotal") == 16 && m("chunksSkipped") == 14,
      s"disjoint OR ranges must skip the 14 interior chunks: $m")
    r.close()

    // CROSS-COLUMN OR: a chunk skips only when BOTH branches reject it
    // against their own columns' zones. `s = 'a'` rejects every chunk
    // (all values start with 'x' > 'a'), so pruning reduces to the id
    // branch; the query itself is claimed and exact.
    val q2 = t.where(col("id") < 256 || col("s") === "a")
    assert(q2.queryExecution.optimizedPlan.collect { case f: LFilter => f }.isEmpty,
      s"a cross-column OR must be claimed:\n${q2.queryExecution.optimizedPlan}")
    assert(q2.count() == 256)
    val r2 = new BtrPartitionReader(file, conf, Array(0),
      Array(OrPred(IntCmpPred(0, 0, 255), StringCmpPred(1, StrOp.EQ, UTF8String.fromString("a")))))
    while (r2.next()) ()
    val m2 = r2.currentMetricsValues().map(x => x.name() -> x.value()).toMap
    assert(m2("chunksTotal") == 16 && m2("chunksSkipped") == 15,
      s"cross-column OR with an always-rejecting string branch skips 15: $m2")
    r2.close()
  }

  test("claimable predicates leave no post-scan Filter; expressions do") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val claimed = btr.where(col("i") > 5 && col("s").isNotNull)
    assert(claimed.queryExecution.optimizedPlan.collect { case f: LFilter => f }.isEmpty,
      s"claimed filters must not leave a Filter node:\n${claimed.queryExecution.optimizedPlan}")
    assert(claimed.queryExecution.executedPlan.toString.contains("exactFilters="),
      "scan must report its exact filters")
    // a literal on the left arrives unflipped, `x != v` arrives as `<>`:
    // both are claimed and agree with Spark
    for ((name, cond) <- Seq(
        "lit-lt-int" -> (lit(-3) < col("i")),
        "lit-gte-str" -> (lit("v5") >= col("s")),
        "lit-eq-dbl" -> (lit(2.5) === col("d")),
        "neq-str" -> (col("s") =!= "v3"))) {
      check(name)(cond)
      val q = btr.where(cond)
      assert(q.queryExecution.optimizedPlan.collect { case f: LFilter => f }.isEmpty &&
        q.queryExecution.executedPlan.toString.contains("exactFilters="),
        s"[$name] must be claimed:\n${q.queryExecution.executedPlan}")
    }
    val unclaimed = btr.where(col("i") % 2 === 0)
    assert(unclaimed.queryExecution.optimizedPlan.collect { case f: LFilter => f }.nonEmpty,
      "an expression predicate must stay a Spark filter")
  }

  test("filtered aggregate pushdown: headers for covered chunks, decode only at boundaries") {
    // ordered single-partition layout => tight chunk zones on id
    val dir = tmp("agg")
    val src = spark.range(8192).selectExpr(
      "CAST(id AS INT) AS id",
      "CAST(id % 97 AS INT) AS v",
      "concat('s', id % 13) AS s")
    BlockFiles.write(src.coalesce(1), dir, BtrConfig(blockSize = 256))
    val t = spark.read.format("btr").load(dir)

    // end-to-end: values match Spark, plan shows the pushed filtered agg
    val q = t.where(col("id").between(1000, 2999))
      .agg(count(lit(1)).as("n"), min("v").as("mn"), max("s").as("mx"))
    val want = src.where(col("id").between(1000, 2999))
      .agg(count(lit(1)), min("v"), max("s")).head()
    assert(q.head().toSeq == want.toSeq)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BtrAggScan"), s"filtered aggregate must push to the source:\n$plan")
    assert(plan.contains("exactFilters="), s"agg scan must carry the filters:\n$plan")

    // reader-level: of 32 chunks, the covered interior folds from headers,
    // only the two boundary chunks decode, the rest are skipped
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val file = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).head
    val r = new BtrAggReader(file, conf,
      specs = Seq(CountSpec, MinMaxSpec(1, isMin = true)),
      zones = Array(IntCmpPred(0, 1000, 2999)),
      exact = Array(IntCmpPred(0, 1000, 2999)))
    assert(r.next())
    assert(r.get().getLong(0) == 2000, s"filtered count: ${r.get().getLong(0)}")
    val m = r.currentMetricsValues().map(x => x.name() -> x.value()).toMap
    // [1000, 2999] over 256-row chunks: chunks 4..10 (rows 1024..2815) are
    // fully covered, chunks 3 and 11 are boundary-partial, the other 23 skip
    assert(m("chunksTotal") == 32)
    assert(m("aggChunksDecoded") == 2, s"only the 2 boundary chunks decode: $m")
    assert(m("aggChunksHeaderOnly") == 7, s"7 fully-covered chunks fold from headers: $m")
    assert(m("chunksSkipped") == 23, s"23 chunks outside the range skip: $m")
    r.close()
  }

  test("pruning metrics surface in the SQLAppStatusStore (Spark UI): files + chunks ratios") {
    val dir = tmp("uimetrics")
    val src = spark.range(8192).selectExpr("CAST(id AS INT) AS id", "concat('s', id % 7) AS s")
    BlockFiles.write(src.repartitionByRange(4, col("id")), dir, BtrConfig(blockSize = 256))
    val mark = spark.sharedState.statusStore.executionsCount()
    spark.read.format("btr").load(dir).where(col("id").between(0, 99)).collect()
    // the SQL listener is async — poll for the execution's metric values;
    // the store keys plan metrics by their DESCRIPTION string
    val want = Set(
      "chunks skipped via zone maps",
      "chunks seen in scanned files (skipped + read)",
      "block files dropped at planning via the zone index",
      "block files in the table")
    var got: Map[String, String] = Map.empty
    val deadline = System.currentTimeMillis + 15000
    while (!want.subsetOf(got.keySet) && System.currentTimeMillis < deadline) {
      Thread.sleep(200)
      val store = spark.sharedState.statusStore
      got = store.executionsList().drop(mark.toInt).flatMap { e =>
        val vals = try store.executionMetrics(e.executionId) catch { case _: Exception => Map.empty[Long, String] }
        e.metrics.filter(m => want.contains(m.name))
          .flatMap(m => vals.get(m.accumulatorId).map(v => m.name -> v))
      }.toMap
    }
    assert(want.subsetOf(got.keySet), s"UI metrics missing: $got")
    def num(s: String): Long = "\\d+".r.findFirstIn(s.replace(",", "")).map(_.toLong).getOrElse(-1)
    assert(num(got("block files in the table")) == 4, s"filesTotal: $got")
    assert(num(got("block files dropped at planning via the zone index")) == 3,
      s"selective range must drop 3 of 4 files at planning: $got")
    // chunk ratio inside the surviving file: 8 chunks seen, 7 skipped
    assert(num(got("chunks seen in scanned files (skipped + read)")) == 8, s"chunksTotal: $got")
    assert(num(got("chunks skipped via zone maps")) == 7, s"chunksSkipped: $got")
  }

  test("prefix pushdown (LIKE 'p%'): zone skip + all-match + 0xFF successor edge") {
    val dir = tmp("prefix")
    val src = spark.range(4096).selectExpr("CAST(id AS INT) AS id",
      "concat('k', lpad(CAST(id AS STRING), 5, '0')) AS k")
    BlockFiles.write(src.coalesce(1), dir, BtrConfig(blockSize = 256))
    // reader-level: 'k001' rows (k00100..k00199) all live in chunk 0
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val file = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).head
    val r = new BtrPartitionReader(file, conf, Array(0),
      Array(StartsWithPred(1, UTF8String.fromString("k001"))),
      exact = Array(StartsWithPred(1, UTF8String.fromString("k001"))))
    var read = 0L
    while (r.next()) read += 1
    assert(read == 100, s"rows with prefix k001: $read")
    assert(r.chunksSkipped == 15, s"15 of 16 chunks skip by prefix zone: ${r.chunksSkipped}")
    r.close()
    // end-to-end through the claimed filter
    val t = spark.read.format("btr").load(dir)
    assert(t.where(col("k").startsWith("k0010")).count() == 10)
    assert(t.where(col("k").startsWith("k0010")).queryExecution.optimizedPlan
      .collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.isEmpty)
    // successor edge: all-0xFF prefix has no upper bound, never over-skips
    assert(ExactPred.successor(Array(-1, -1)) == null)
    assert(ExactPred.successor("ab".getBytes("UTF-8")).toSeq
      == "ac".getBytes("UTF-8").toSeq)
    assert(ExactPred.successor(Array('a'.toByte, -1)).toSeq == Seq('b'.toByte))
  }

  test("saltCols spreads a 90%-one-key write across writers and never lands in the table") {
    val dir = tmp("salt")
    val n = 4000
    val writers = 8
    // 90% of rows share one range key — unsalted, one writer would take
    // them all; the caller-added salt joins the ordered distribution
    val df = spark.range(n).selectExpr(
      "CASE WHEN id % 10 < 9 THEN 'hot-repo' ELSE concat('repo', id % 37) END AS repo",
      "concat('path', id) AS path",
      "CAST(id AS INT) AS id")
      .withColumn("__salt", pmod(hash(col("path")), lit(16)))
    df.write.format("btr").mode("overwrite")
      .option("rangeCols", "repo").option("saltCols", "__salt")
      .option("numPartitions", writers.toString).save(dir)
    val back = spark.read.format("btr").load(dir)
    // the salt column is dropped before encoding
    assert(back.schema.fieldNames.toSeq == Seq("repo", "path", "id"))
    val orig = df.drop("__salt")
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
    // per-writer row counts from the zone index: no writer got > 2x mean
    val idx = graft.format.ZoneIndex.read(spark.sparkContext.hadoopConfiguration, dir).get
    val perFile = idx.map(_.cols.head.rows)
    val mean = perFile.sum.toDouble / perFile.length
    assert(perFile.sum == n)
    assert(perFile.max <= 2 * mean,
      s"hot key must spread over salted writers: per-file rows ${perFile.mkString(",")}")
  }

  test("chunksTotal + chunksSkipped give the pruning ratio at reader level") {
    val dir = tmp("ratio")
    val src = spark.range(4096).selectExpr("CAST(id AS INT) AS id", "concat('x', id) AS s")
    BlockFiles.write(src.coalesce(1), dir, BtrConfig(blockSize = 256))
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val file = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath.toString).filter(_.contains("part-")).head
    val r = new BtrPartitionReader(file, conf, Array(0), Array(IntCmpPred(0, 0, 255)))
    while (r.next()) ()
    val m = r.currentMetricsValues().map(x => x.name() -> x.value()).toMap
    assert(m("chunksTotal") == 16 && m("chunksSkipped") == 15, s"ratio metrics: $m")
    r.close()
  }

  test("count(col) pushdown: non-null counts fold from header null counts, no decode") {
    // the battery fixture has NULLs in all three types
    val aggs = Seq(
      count(lit(1)).as("n"), count(col("i")).as("ni"),
      count(col("d")).as("nd"), count(col("s")).as("ns"))
    val q = btr.agg(aggs.head, aggs.tail: _*)
    val want = df.agg(aggs.head, aggs.tail: _*).head()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BtrAggScan") && plan.contains("count(i)"),
      s"count(col) must push to the source:\n$plan")
    assert(q.head().toSeq == want.toSeq)

    // under a claimed WHERE: boundary chunks use the validity bitmap per
    // row, covered chunks fold rows - nullCount — still zero decode of the
    // counted column
    val q2 = btr.where(col("id").between(100, 1500))
      .agg(count(col("i")).as("ni"), count(col("s")).as("ns"), min(col("i")).as("mn"))
    val want2 = df.where(col("id").between(100, 1500))
      .agg(count(col("i")).as("ni"), count(col("s")).as("ns"), min(col("i")).as("mn")).head()
    assert(q2.queryExecution.executedPlan.toString.contains("BtrAggScan"))
    assert(q2.head().toSeq == want2.toSeq)

    // count(distinct col) must NOT push (stays a full scan + Spark agg)
    val q3 = btr.agg(countDistinct(col("i")).as("u"))
    assert(!q3.queryExecution.executedPlan.toString.contains("BtrAggScan"),
      "distinct counts cannot fold from headers")
    assert(q3.head().getLong(0) == df.agg(countDistinct(col("i"))).head().getLong(0))
  }

  test("headers-only COUNT(*) rejects a flipped numRows: named checksum error, never a wrong count") {
    // The agg reader answers COUNT(*) purely from frame headers — a silent
    // bit flip in numRows would be a silently wrong aggregate if the header
    // CRC did not cover it. The CRC covers the whole header
    // (numRows + nCols + meta); this drives the AGG path specifically.
    val dir = tmp("aggcorrupt")
    val src = spark.range(2048).selectExpr("CAST(id AS INT) AS id", "concat('v', id % 5) AS s")
    BlockFiles.write(src.coalesce(1), dir, BtrConfig(blockSize = 256))
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(s"$dir/blocks").getFileSystem(conf)
    val orig = fs.listStatus(new Path(s"$dir/blocks"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val bytes = { val in = fs.open(orig); try in.readAllBytes() finally in.close() }

    // sanity: the clean file counts correctly through the agg reader
    val clean = new BtrAggReader(orig.toString, conf, Seq(CountSpec))
    assert(clean.next() && clean.get().getLong(0) == 2048)
    clean.close()

    // chunk 0's frame begins right after magic(4)+version(1): numRows is
    // bytes 5..8. Flip one bit in it.
    val bad = bytes.clone()
    bad(5) = (bad(5) ^ 0x04).toByte
    val bf = new Path(s"$dir/blocks_bad/part-00000")
    fs.mkdirs(bf.getParent)
    val os = fs.create(bf, true); os.write(bad); os.close()
    val e = intercept[java.io.IOException] {
      val r = new BtrAggReader(bf.toString, conf, Seq(CountSpec))
      try while (r.next()) r.get() finally r.close()
    }
    assert(e.getMessage.contains("part-00000") &&
      (e.getMessage.contains("checksum mismatch") || e.getMessage.contains("corrupt")),
      s"flipped numRows must fail the header CRC on the agg path: ${e.getMessage}")
  }

  test("aggregate reader refuses a frame whose blobs decode more rows than it declares") {
    // one 256-row chunk framed from real encoded parts, with numRows set 8
    // lower: the header CRC is valid (frameChunk computes it), so only the
    // decoded-length check stands between the reader and a partial that
    // silently drops the last 8 rows
    import graft.engine.ChunkEncoder.encodeInt
    val ids = Array.tabulate(256)(identity)
    val parts = Seq(encodeInt("id", ids, 256, BtrConfig.default),
      encodeInt("v", ids.map(_ * 2), 256, BtrConfig.default)).map(p => p.copy(numRows = 248))
    val dir = tmp("shortframe")
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = new org.apache.hadoop.fs.Path(s"$dir/blocks")
    blocks.getFileSystem(conf).mkdirs(blocks)
    BlockFiles.writeFrames(conf, s"$dir/blocks", 0, 0L, Iterator(BlockFiles.frameChunk(parts)))
    // the filter makes the chunk mixed and matches exactly its last 8 rows
    val e = intercept[java.io.IOException] {
      val r = new BtrAggReader(s"$dir/blocks/part-00000", conf,
        specs = Seq(CountSpec, SumSpec(1, isDouble = false)),
        exact = Array(IntCmpPred(0, 248, 255)))
      try while (r.next()) r.get() finally r.close()
    }
    assert(e.getMessage.contains("part-00000") &&
      e.getMessage.contains("decoded 256 values but the frame declares 248 rows"),
      s"a long blob must be a named corruption: ${e.getMessage}")
  }

  test("string extrema that are not valid UTF-8 keep a byte zone; pushdown over them matches Spark") {
    import org.apache.hadoop.fs.Path
    val dir = tmp("bad_utf8")
    // a lone 0xC3 (a cut two-byte sequence) and a 0xFF are not UTF-8; in
    // unsigned byte order both sort above every "v<digit>" value. Sorted
    // into 256-row chunks: [v0, C3], [C3, FF], [FF, FF]
    val src = spark.range(600).selectExpr("CAST(id AS INT) AS id",
      "CASE id % 3 WHEN 0 THEN CAST(unhex('C3') AS STRING) " +
        "WHEN 1 THEN CAST(unhex('FF') AS STRING) ELSE concat('v', CAST(id % 10 AS STRING)) END AS s")
      .orderBy("s").coalesce(1)
    BlockFiles.write(src, dir, BtrConfig(blockSize = 256))
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = new Path(s"$dir/blocks")
    val file = blocks.getFileSystem(conf).listStatus(blocks).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    val r = new FrameReader(file.toString, conf)
    val maxes = Seq.newBuilder[String]
    try while (r.nextHeader()) {
      assert(r.zone(1).kind == 3, s"chunk zone of s: ${r.zone(1)}")
      maxes += r.zone(1).smax.map(b => f"${b & 0xff}%02X").mkString
      r.finishChunk()
    } finally r.close()
    assert(maxes.result() == Seq("C3", "FF", "FF"))

    val btr = spark.read.format("btr").load(dir)
    def rows(d: DataFrame): Seq[(Int, String)] =
      d.selectExpr("id", "hex(s)").collect().map(x => (x.getInt(0), x.getString(1))).sortBy(_._1).toSeq
    // a literal that is itself not valid UTF-8 compares by its bytes too
    val c3 = lit(Array(0xC3.toByte)).cast("string")
    for (cond <- Seq(col("s") === "v2", col("s") < "v5", col("s") > "v9", col("s") <= "v0",
        col("s") === c3, col("s") < c3, col("s").isin(c3, "v2"), col("s").startsWith(c3))) {
      val want = rows(src.where(cond))
      assert(want.nonEmpty, s"fixture must match rows for $cond")
      assert(rows(btr.where(cond)) == want, s"$cond")
    }
    def minMax(d: DataFrame): (String, String) = {
      val x = d.agg(min("s").as("mn"), max("s").as("mx")).selectExpr("hex(mn)", "hex(mx)").head()
      (x.getString(0), x.getString(1))
    }
    val agg = btr.agg(min("s"), max("s"))
    assert(agg.queryExecution.executedPlan.toString.contains("BtrAggScan"),
      s"MIN/MAX must push to the source:\n${agg.queryExecution.executedPlan}")
    assert(minMax(btr) == minMax(src) && minMax(btr) == (("7630", "FF")))
  }
}
