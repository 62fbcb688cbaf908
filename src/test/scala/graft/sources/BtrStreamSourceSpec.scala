package graft.sources

import graft.codec.BtrConfig
import graft.engine.{BlockFiles, BtrTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Micro-batch btr source (round-5): `readStream.format("btr")` over a
  * `batch=<id>/` directory — completed batches stream in offset order,
  * checkpoint resume reads only NEW batches, manifest-less (in-flight or
  * crashed) batch dirs stay invisible, and pushed filters reach the
  * streaming readers.
  */
class BtrStreamSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("btr-stream-source-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String = {
    val p = Paths.get("target", "tmp", s"btrstream_$name")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    if (p.toFile.exists()) rm(p.toFile)
    "file:" + p.toAbsolutePath
  }

  private def batchDf(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"row_$i", i * 0.5)).toDF("id", "s", "d")
  }

  test("completed batches stream once; checkpoint resume reads only new batches") {
    val dir = tmp("resume")
    val ckpt = tmp("resume_ckpt")
    BlockFiles.write(batchDf(0, 100), s"$dir/batch=0", BtrConfig(blockSize = 64))
    BlockFiles.write(batchDf(100, 250), s"$dir/batch=1", BtrConfig(blockSize = 64))

    // foreachBatch sink: supports checkpoint RECOVERY (the memory sink
    // does not), so each run counts only the batches new to the checkpoint
    def runOnce(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong()
      val q = spark.readStream.format("btr").load(dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          n.addAndGet(b.count()); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      n.get()
    }

    assert(runOnce() == 250, "first run reads both completed batches")

    // a manifest-less dir (in-flight/crashed ingest) must stay invisible;
    // it also BLOCKS later ids (contiguity guard) until its manifest lands
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/batch=2/blocks"))
    BlockFiles.write(batchDf(500, 600), s"$dir/batch=3", BtrConfig(blockSize = 64))
    assert(runOnce() == 0, "no new CONTIGUOUS batch -> nothing read")

    // once batch 2 completes, resume picks up batches 2 AND 3 only
    BlockFiles.write(batchDf(250, 300), s"$dir/batch=2", BtrConfig(blockSize = 64))
    assert(runOnce() == 150, "resume reads exactly the new batches (2,3)")

    // values, not just counts: a fresh checkpoint sees all four batches
    val q4 = spark.readStream.format("btr").load(dir)
      .writeStream.outputMode("append").format("memory").queryName("btrs_all")
      .option("checkpointLocation", tmp("resume_ckpt2"))
      .start()
    try q4.processAllAvailable() finally q4.stop()
    val got = spark.table("btrs_all")
    val want = batchDf(0, 300).unionAll(batchDf(500, 600))
    assert(got.count() == 400)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streamed rows must equal the union of completed batches")
  }

  test("a stream started on a dir with no published batch reads the batches as they land") {
    val dir = tmp("empty_start")
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(dir))
    val q = spark.readStream.schema(batchDf(0, 1).schema).format("btr").load(dir)
      .writeStream.outputMode("append").format("memory").queryName("btrs_empty")
      .option("checkpointLocation", tmp("empty_start_ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("btrs_empty").count() == 0)
      BlockFiles.write(batchDf(0, 100), s"$dir/batch=0", BtrConfig(blockSize = 64))
      q.processAllAvailable()
      assert(spark.table("btrs_empty").count() == 100)
    } finally q.stop()
  }

  test("a filtered stream returns the matching rows of every batch") {
    val dir = tmp("filter")
    val ckpt = tmp("filter_ckpt")
    // ordered ids -> tight chunk zones inside each batch file
    BlockFiles.write(batchDf(0, 1024).coalesce(1), s"$dir/batch=0", BtrConfig(blockSize = 128))
    BlockFiles.write(batchDf(1024, 2048).coalesce(1), s"$dir/batch=1", BtrConfig(blockSize = 128))
    val q = spark.readStream.format("btr").load(dir)
      .where(col("id") < 100 || col("id") >= 2000) // compound OR through the stream
      .writeStream.outputMode("append").format("memory").queryName("btrs_f")
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("btrs_f")
    assert(got.count() == 148, s"filtered stream rows: ${got.count()}")
    assert(got.agg(min("id"), max("id")).head().toSeq == Seq(0, 2047))
  }
}
