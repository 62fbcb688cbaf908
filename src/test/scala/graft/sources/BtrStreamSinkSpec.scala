package graft.sources

import graft.engine.BtrTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Native streaming btr SINK (round-5): `df.writeStream.format("btr")`
  * lands each epoch as a `batch=<id>/` sub-table in the manifest-gated
  * ingest layout — the same layout the btr streaming SOURCE reads, so the
  * full compressed streaming loop (firehose → btr → standing query) runs
  * through the connector with no foreachBatch glue.
  */
class BtrStreamSinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-stream-sink-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"btrsink_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  private def manifestPath(dir: String, id: Long): java.nio.file.Path =
    java.nio.file.Paths.get(s"$dir/batch=$id/${BtrTable.ManifestFile}".stripPrefix("file:"))

  test("epochs land as manifest-gated batch tables; sink→source loop round-trips") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = tmp("loop")
    val dir = s"$base/btr"
    val mem = MemoryStream[(Int, String, Double)]
    val q = mem.toDF().toDF("id", "s", "d")
      .writeStream.format("btr")
      .option("checkpointLocation", s"$base/ckpt")
      .option("rangeCols", "id")
      .start(dir)
    try {
      mem.addData((1, "a", 0.5), (2, "bb", 1.5), (3, "ccc", 2.5))
      q.processAllAvailable()
      mem.addData((4, "dddd", 3.5), (5, "e", 4.5))
      q.processAllAvailable()
    } finally q.stop()

    assert(java.nio.file.Files.exists(manifestPath(dir, 0)), "epoch 0 manifest missing")
    assert(java.nio.file.Files.exists(manifestPath(dir, 1)), "epoch 1 manifest missing")

    // each epoch is an ordinary btr table (batch-readable, zone-indexed)
    val b0 = spark.read.format("btr").load(s"$dir/batch=0")
    assert(b0.orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(BtrTable.readManifest(spark, s"$dir/batch=0").numRows == 3)

    // the full loop: btr streaming SOURCE over what the sink wrote
    val n = new java.util.concurrent.atomic.AtomicLong()
    val rq = spark.readStream.format("btr").load(dir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/read_ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        n.addAndGet(b.count()); ()
      }
      .start()
    try rq.processAllAvailable() finally rq.stop()
    assert(n.get() == 5, s"loop delivered ${n.get()} of 5 rows")
  }

  test("restart over the same checkpoint republishes nothing (exactly-once)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = tmp("replay")
    val dir = s"$base/btr"
    val mem = MemoryStream[(Int, String)]
    def run(): Unit = {
      val q = mem.toDF().toDF("id", "s")
        .writeStream.format("btr")
        .option("checkpointLocation", s"$base/ckpt")
        .start(dir)
      try q.processAllAvailable() finally q.stop()
    }
    mem.addData((1, "a"), (2, "b"))
    run()
    val m0 = manifestPath(dir, 0)
    val mtime = java.nio.file.Files.getLastModifiedTime(m0)
    run() // restart, no new data: epoch 0 must not republish
    assert(java.nio.file.Files.getLastModifiedTime(m0) == mtime,
      "replay rewrote a published epoch manifest")
    assert(spark.read.format("btr").load(s"$dir/batch=0").count() == 2)
  }

  test("a direct replayed commit is a no-op under a live manifest") {
    // driver-level idempotency without a restart: publish epoch 7, then
    // commit it again with DIFFERENT stats — the live manifest wins
    val dir = tmp("recommit")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val colTypes = graft.engine.BtrEncoder.validateSchema(schema)
    val w = new BtrStreamingWrite(dir, schema, colTypes,
      graft.codec.BtrConfig.default, Array.emptyIntArray)
    w.commit(7L, Array(graft.engine.BlockFiles.BlockWriteStat(0, 5L, None)))
    val rows0 = BtrTable.readManifest(spark, s"$dir/batch=7").numRows
    w.commit(7L, Array(graft.engine.BlockFiles.BlockWriteStat(0, 50L, None)))
    assert(BtrTable.readManifest(spark, s"$dir/batch=7").numRows == rows0,
      "replayed commit republished under a live manifest")
    // abort of a published epoch must not delete its blocks
    w.abort(7L, Array.empty)
    assert(java.nio.file.Files.exists(manifestPath(dir, 7)))
  }

  test("complete output mode is rejected with an actionable message") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = tmp("complete")
    val mem = MemoryStream[(Int, String)]
    val agg = mem.toDF().toDF("id", "s").groupBy("s")
      .agg(count(lit(1)).cast("int").as("n"))
    val ex = intercept[Exception] {
      val q = agg.writeStream.format("btr")
        .outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .start(s"$base/btr")
      try { mem.addData((1, "a")); q.processAllAvailable() } finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("append output mode only")),
      s"unexpected error: ${msgs(ex).mkString(" | ")}")
  }
}
