package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level contract tests for the driver harness surface. */
class EntrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("entry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("entry: flagship encode->decode->verify returns stats with 0 mismatches") {
    val df = SparkEntry.entry(spark).cache()
    val rows = df.collect()
    assert(rows.length > 0, "driver smoke-checks rows>0")
    val mismatchIdx = df.columns.indexOf("mismatches")
    val verifiedIdx = df.columns.indexOf("rows_verified")
    rows.foreach { r =>
      assert(r.getLong(verifiedIdx) == 20000L, "all synth rows verified")
      assert(r.getLong(mismatchIdx) == 0L, "sha256/content equality must hold")
    }
    // compression must actually compress overall
    val raw = rows.map(r => r.getLong(df.columns.indexOf("raw_bytes"))).sum
    val enc = rows.map(r => r.getLong(df.columns.indexOf("enc_bytes"))).sum
    assert(enc < raw, s"total compressed $enc must be < raw $raw")
  }

  test("scratch tables get the full writer width when the input size is unknown") {
    // an RDD-backed frame reports the default Long.MaxValue size estimate
    val rdd = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1)))
    val df = spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.IntegerType))))
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Int.MaxValue) * 128)
    assert(Queries.scratchPartitions(spark, df) == spark.sessionState.conf.numShufflePartitions)
    // a known small input still gets one writer
    assert(Queries.scratchPartitions(spark, spark.range(10).toDF()) == 1)
  }

  test("queries and oracles are consistent") {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    assert(qs.nonEmpty)
    os.keys.foreach(k => assert(qs.contains(k), s"oracle '$k' has no query"))
  }

  test("every query runs at sf0.001 with rows >= 0") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }
}
